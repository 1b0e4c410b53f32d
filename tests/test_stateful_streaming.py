"""Custom stateful streaming operator tests: the running per-user profile
must converge to the batch ground truth on bounded input, and the
transformWithState compat shim must honor its state contract."""

from __future__ import annotations

from symat_hbase_tools_spark.streaming import events as se
from symat_hbase_tools_spark.streaming.stateful import user_profiles_micros
from tests.conftest import SF_DIR


def test_user_profiles_match_batch(spark, events):
    """The running profile converges EXACTLY to the batch ground truth:
    integer-micros accumulation equals SUM(CAST(floor(value*1e6) AS
    BIGINT)) bit for bit, whatever the micro-batching."""
    stream = se.stream_events(spark, SF_DIR)
    out = se.run_bounded(
        user_profiles_micros(stream), "t_profiles", output_mode="update"
    )
    # update mode may emit a row per user per micro-batch; n_events grows
    # monotonically per user, so the row with the largest count is the
    # converged profile
    latest = {}
    for r in out.collect():
        row = (r["n_events"], r["value_micros"], r["last_seen_us"])
        if r["user_id"] not in latest or row[0] > latest[r["user_id"]][0]:
            latest[r["user_id"]] = row
    events.createOrReplaceTempView("t_profiles_events")
    want = {
        r["user_id"]: (r["n"], r["micros"], r["last_us"])
        for r in spark.sql(
            "SELECT user_id, COUNT(*) AS n, "
            "SUM(CAST(floor(value * 1000000) AS BIGINT)) AS micros, "
            "MAX(unix_micros(ts)) AS last_us "
            "FROM t_profiles_events GROUP BY user_id"
        ).collect()
    }
    assert latest == want


def test_compat_shim_state_clear_removes_state(spark):
    """A processor that clears its state must translate to state.remove()
    on the legacy engine (and a re-keyed batch starts fresh): counts that
    reach the flush threshold reset to zero instead of accumulating."""
    import pandas as pd

    from symat_hbase_tools_spark.streaming.stateful import (
        StatefulProcessor,
        run_stateful_processor_compat,
    )

    class FlushAtThree(StatefulProcessor):
        def init(self, handle):
            self._st = handle.getValueState("acc", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._st.get()[0] if self._st.exists() else 0
            for pdf in rows:
                n += len(pdf)
            if n >= 3:
                self._st.clear()
                yield pd.DataFrame({"user_id": [key[0]], "flushed": [n]})
            else:
                self._st.update((n,))

        def close(self):
            pass

    # 5 single-row micro-batches for one key -> flush at 3, rebuild to 2.
    # Each row goes in its OWN parquet write: the old
    # `repartition(5, "seq")` HASH-partitioned 5 rows into 5 files, and
    # hash collisions left some files with 2 rows and some empty — with
    # maxFilesPerTrigger=1 the file-listing order then decided whether
    # the counter hit exactly 3 or jumped 2 -> 4 (the round-8 full-suite
    # flake). Five appends guarantee one row per file in any order.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        for i in range(5):
            spark.createDataFrame(
                [(1, i)], "user_id long, seq long"
            ).coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = (
            spark.readStream.schema("user_id long, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        out = run_stateful_processor_compat(
            stream.groupBy("user_id"),
            FlushAtThree,
            "user_id long, flushed long",
            "n bigint",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_flush")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM t_flush").collect()
    # exactly one flush happened (at n=3), and it flushed exactly 3 —
    # proving the clear() removed state rather than leaving 3 to grow to 5
    assert [(r["user_id"], r["flushed"]) for r in rows] == [(1, 3)]


def test_micro_profiles_batch_boundary_invariance(spark):
    """The driver-verified form's core claim: the converged state is
    IDENTICAL no matter how the stream was micro-batched (integer-micros
    accumulation has no float-order dependence). Drive the same input as
    one batch and as five single-file batches and compare exactly."""
    import tempfile

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.streaming.stateful import user_profiles_micros

    rows = [(u, float(v) / 7.0, 1_700_000_000_000_000 + i)
            for i, (u, v) in enumerate((u, v) for u in (1, 2, 3) for v in range(17))]
    src = spark.createDataFrame(rows, "user_id long, value double, us_raw long")
    src = src.select("user_id", "value",
                     F.timestamp_micros(F.col("us_raw")).alias("ts"))

    def converged(max_files):
        with tempfile.TemporaryDirectory() as d:
            src.repartition(5).write.mode("overwrite").parquet(f"{d}/in")
            stream = (spark.readStream.schema("user_id long, value double, ts timestamp")
                      .option("maxFilesPerTrigger", max_files).parquet(f"{d}/in"))
            out = user_profiles_micros(stream)
            name = f"t_micro_{max_files}"
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update").trigger(availableNow=True).start())
            q.awaitTermination(120)
            pdf = (spark.table(name).groupBy("user_id")
                   .agg(F.max_by(F.struct("n_events", "value_micros", "last_seen_us"),
                                 F.col("n_events")).alias("w"))
                   .select("user_id", "w.*").orderBy("user_id").toPandas())
            return [tuple(r) for r in pdf.itertuples(index=False)]

    one = converged(100)   # everything in one micro-batch
    five = converged(1)    # one file per micro-batch
    assert one == five
    assert len(one) == 3 and all(r[1] == 17 for r in one)


def test_compat_shim_rejects_multiple_value_states(spark):
    """The shim round-trips ONE ValueState through the legacy state tuple;
    a processor registering two must fail loudly, not silently drop one."""
    import pandas as pd
    import pytest

    from symat_hbase_tools_spark.streaming.stateful import (
        StatefulProcessor,
        run_stateful_processor_compat,
    )

    class TwoStates(StatefulProcessor):
        def init(self, handle):
            self._a = handle.getValueState("a", "n bigint")
            self._b = handle.getValueState("b", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            yield pd.DataFrame({"user_id": [key[0]], "n": [0]})

        def close(self):
            pass

    import tempfile

    src = spark.createDataFrame([(1, 1)], "user_id long, seq long")
    with tempfile.TemporaryDirectory() as d:
        src.write.mode("overwrite").parquet(f"{d}/in")
        stream = spark.readStream.schema("user_id long, seq long").parquet(f"{d}/in")
        out = run_stateful_processor_compat(
            stream.groupBy("user_id"), TwoStates, "user_id long, n bigint", "n bigint"
        )
        q = (out.writeStream.format("memory").queryName("t_two_states")
             .outputMode("update").trigger(availableNow=True).start())
        with pytest.raises(Exception, match="exactly ONE ValueState"):
            q.awaitTermination(120)
        q.stop()
