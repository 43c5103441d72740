import numpy as np
import pandas as pd
import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mircv_project_spark.session import get_spark

    s = get_spark("mircv-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def build_small_index(spark, parse, codec):
    """In-memory index over the sf0.001 transcripts (shared helper for
    the DAAT suites)."""
    from mircv_project_spark.operators.index_build import (
        build_index,
        filter_indexable,
    )
    from mircv_project_spark.sources.transcripts import (
        assign_doc_ids,
        load_transcripts,
    )

    t = assign_doc_ids(filter_indexable(load_transcripts(spark, SF_SMALL)))
    return build_index(spark, t, parse=parse, codec=codec)


@pytest.fixture(scope="session")
def vb_index(spark):
    """ONE parse=False/VB build shared by every DAAT suite (maxscore,
    bmw, ...) — session scope so the comparison rule and build defaults
    live in exactly one place and the build runs once per session."""
    from mircv_project_spark.functions import codecs
    from mircv_project_spark.sources.index_store import IndexReader

    idx = build_small_index(spark, parse=False, codec=codecs.VB)
    return idx, IndexReader.from_memory(idx)


def persistent_rdds(spark) -> int:
    """RDDs marked persistent in this session, materialized or not.
    ``_jsc`` is a pyspark-internal gateway to the JavaSparkContext, so
    a pyspark upgrade may move it; keep every such probe here."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cmp_rank_frames(df_a, df_b):
    """Rank-identity comparison shared by the DAAT suites."""
    a = df_a.toPandas().sort_values(["qid", "rank"], ignore_index=True)
    b = df_b.toPandas().sort_values(["qid", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def duck_run(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run oracle SQL the way the driver does: tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def assert_frames_match(spark_df, duck_df: pd.DataFrame, float_tol: float = 0.0):
    """Order-insensitive comparison mirroring the driver's check:
    same row count, same column names/types (loosely), same values."""
    sp = spark_df.toPandas()
    assert sorted(sp.columns) == sorted(duck_df.columns), (
        sp.columns, duck_df.columns
    )
    sp = sp[sorted(sp.columns)]
    dk = duck_df[sorted(duck_df.columns)]
    assert len(sp) == len(dk), f"row count {len(sp)} != {len(dk)}"
    sort_cols = list(sp.columns)
    sp = sp.sort_values(sort_cols, ignore_index=True)
    dk = dk.sort_values(sort_cols, ignore_index=True)
    for c in sp.columns:
        a, b = sp[c], dk[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            if float_tol:
                ok = np.allclose(
                    a.astype(float), b.astype(float), atol=float_tol, equal_nan=True
                )
            else:
                ok = (a.astype(float).values == b.astype(float).values) | (
                    a.isna().values & b.isna().values
                )
                ok = ok.all()
            assert ok, f"column {c} differs:\n{a[a.ne(b)].head()}\n{b[b.ne(a)].head()}"
        else:
            pd.testing.assert_series_equal(
                a, b, check_dtype=False, check_names=False, obj=c
            )
