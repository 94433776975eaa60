"""Shared pieces of the benchmark: session set-up, timing, statistics
and the multiplicity-sensitive output checksum."""

from __future__ import annotations

import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(values: list[float]) -> dict:
    """Median and quartiles of a sample (one value: all three equal)."""
    v = sorted(values)
    if len(v) == 1:
        return {"n": 1, "q1": v[0], "median": v[0], "q3": v[0]}
    q1, med, q3 = statistics.quantiles(v, n=4)
    return {"n": len(v), "q1": q1, "median": med, "q3": q3}


def row_hash(df):
    """xxhash64 of all columns (by name, as strings) mod 2^40."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns, key=str.lower)
    return F.pmod(
        F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("\u0000")) for c in cols]
        ),
        F.lit(1 << 40),
    )


def checksum_columns(df) -> list:
    """Aggregate expressions giving (rows, checksum) of a frame: the sum
    of ``row_hash`` is order-insensitive but multiplicity-sensitive, so
    a duplicated or a dropped row both change it."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash(df).cast("decimal(38,0)")).alias("checksum"),
    ]


def checksum(df) -> tuple[int, int]:
    row = df.agg(*checksum_columns(df)).collect()[0]
    return int(row["rows"]), int(row["checksum"] or 0)


def start_session(cpus: int, tmp: str, trace_dir: str | None):
    """``get_spark`` plus the warm-up every session pays once: a
    Catalyst query (JIT, codegen) and a grouped ``applyInPandas`` over
    every core (Python worker spawn, pandas/pyarrow and package
    import). Returns (spark, get_spark_s, warmup_s)."""
    from gelly_streaming_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        # -UsePerfData: no /tmp/hsperfdata_<user> files
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + trace_dir,
                # no zstandard module here to read the default codec
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    _warm_up(spark, cpus)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _warm_up(spark, cpus: int) -> None:
    from pyspark.sql import functions as F

    spark.range(0, 200_000, 1, cpus).groupBy((F.col("id") % 97).alias("k")).agg(
        F.sum("id")
    ).write.format("noop").mode("overwrite").save()

    def touch(pdf):
        import gelly_streaming_spark.plans.connected_components  # noqa: F401

        return pdf

    spark.range(0, 10_000, 1, cpus).withColumn(
        "g", F.pmod("id", F.lit(cpus))
    ).groupBy("g").applyInPandas(touch, schema="id long, g long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit so
    its resource usage is accounted to this process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
