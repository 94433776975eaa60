"""The ``batch_headline`` workload: the 34 headline registry queries,
each built by its registry call and forced by a noop write, in fixed
order, in one session. Each query's (rows, checksum) is observed
during its timed write and compared afterwards with the same checksum
over its DuckDB twin's answer."""

from __future__ import annotations

import datetime as _dt
import decimal
import functools
import time

from common import checksum_columns, row_hash

# Ten of the 34 HEADLINE queries of bench.py, chosen so that one pass
# fits the run budget while every layer still runs: the merge-tree CC,
# the iterative graph plans, triangles, text, similarity, and the
# MinHash-LSH dedup and curation chain.
HEADLINE = [
    "connected_components_scalable",
    "sssp",
    "community_lpa",
    "pagerank",
    "clustering_coeff_estimate",
    "token_count",
    "minhash_lsh_pairs",
    "dedup_groups",
    "contamination",
    "split_stats",
]
# the heavy ones also get call_s, driver_s and python_s
HEAVY = [q for q in HEADLINE if q not in ("token_count", "contamination")]
TABLES = ["documents", "events"]


def run_pass(spark, data_dir: str, corrupt: bool = False) -> dict:
    """One timed pass. Returns per-query call/wall seconds, observed
    (rows, checksum), output schema, and the queries that raised. With
    ``corrupt`` the first query's output loses one row (smoke test)."""
    from pyspark.sql import Observation

    from gelly_streaming_spark.queries import QUERIES

    out = {"call_s": {}, "wall_s": {}, "observed": {}, "schema": {}, "raised": {}}
    sc = spark.sparkContext
    for name in HEADLINE:
        fn = QUERIES[name][0]
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            df = fn(spark, data_dir)
            if corrupt and name == HEADLINE[0]:
                df = df.exceptAll(df.limit(1))
            t1 = time.perf_counter()
            obs = Observation(name)
            df.observe(obs, *checksum_columns(df)).write.format("noop").mode(
                "overwrite"
            ).save()
            t2 = time.perf_counter()
        except Exception as e:  # a failing query is counted, not fatal
            out["raised"][name] = f"{type(e).__name__}: {e}"[:500]
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        m = obs.get
        out["call_s"][name] = t1 - t0
        out["wall_s"][name] = t2 - t0
        out["observed"][name] = (int(m["rows"]), int(m["checksum"] or 0))
        out["schema"][name] = df.schema
    return out


def _to_spark_value(v, dt):
    """Coerce a DuckDB result value to what ``createDataFrame`` expects
    for the Spark output column type, so both sides render the same."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(v)
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(v)
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return v
    if isinstance(dt, T.DateType):
        return v if isinstance(v, _dt.date) else _dt.date.fromisoformat(str(v))
    if isinstance(dt, T.ArrayType):
        return [_to_spark_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        vals = list(v.values()) if isinstance(v, dict) else list(v)
        return tuple(_to_spark_value(x, f.dataType) for x, f in zip(vals, dt.fields))
    return v


def expected(spark, data_dir: str, names: list[str], schemas: dict) -> dict:
    """(rows, checksum) of each query's DuckDB twin, rendered through
    the Spark query's own output schema."""
    import duckdb
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from gelly_streaming_spark.queries import QUERIES

    frames = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        schema = schemas[name]
        res = con.execute(QUERIES[name][1])
        cols = [d[0].lower() for d in res.description]
        rows = res.fetchall()
        by_name = {f.name.lower(): i for i, f in enumerate(schema.fields)}
        if sorted(cols) != sorted(by_name):
            out[name] = ("schema", cols)
            continue
        order = [cols.index(f.name.lower()) for f in schema.fields]
        data = [
            tuple(_to_spark_value(r[i], f.dataType) for i, f in zip(order, schema.fields))
            for r in rows
        ]
        df = spark.createDataFrame(data, schema=schema, verifySchema=False)
        frames.append(df.select(F.lit(name).alias("q"), row_hash(df).alias("h")))
    con.close()
    # one aggregation over every twin's row hashes
    sums = (
        functools.reduce(DataFrame.unionByName, frames)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.col("h").cast("decimal(38,0)")).alias("c"))
        .collect()
    )
    for r in sums:
        out[r["q"]] = (int(r["rows"]), int(r["c"] or 0))
    for name in names:
        out.setdefault(name, (0, 0))
    return out
