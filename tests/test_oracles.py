"""In-suite oracle parity: a fast subset of the driver's correctness gate
(Spark query vs independent DuckDB SQL, order-insensitive value compare) at
sf0.001 — guards the oracle plumbing between full `tools/check_oracles.py`
runs. The full gate (every query in `queries()`) runs at sf0.01
out-of-band."""

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import _canon, _type_drift, registry_mismatch

SF_DIR = "/root/testdata/sf0.001"

# cheap, structurally diverse queries: native exprs, portable hash,
# md5 grams, window packing, generated-media golden
FAST_QUERIES = [
    "sink_counts",
    "tenant_counts",
    "sample_deterministic",
    "mixture_sample",
    "pack_sequences",
    "fingerprint_dupes",
    "media_resize",
    "multimodal_features",
]


def test_every_query_has_an_oracle():
    """The registry is the `q_*` functions; oracle_sql() must name exactly
    the same queries (the gate exits 1 on any difference)."""
    assert registry_mismatch(entrymod.queries(), entrymod.oracle_sql()) == []


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_oracle_parity(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entrymod.oracle_sql()[name])
    dcols = list(res.columns)
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    # the driver hashes through a pandas fetch, where DuckDB HUGEINT/DECIMAL
    # become float64 — int-vs-float class drift is a hash mismatch even when
    # fetchall() values coincide (bit pack_sequences in round 2)
    assert _type_drift(scols, sdf.dtypes, dcols, list(res.types)) == []
    assert len(srows) == len(drows) > 0
    assert _canon(srows, scols) == _canon(drows, dcols)


def test_type_drift_catches_hugeint(duck):
    """Regression: an un-CAST DuckDB windowed sum() is HUGEINT, which the
    driver fetches as float64 while Spark emits BIGINT — the exact round-2
    pack_sequences failure. The local gate must flag it."""
    res = duck.sql(
        "SELECT doc_id, sum(doc_id) OVER (ORDER BY doc_id) AS cum "
        "FROM documents LIMIT 5"
    )
    drift = _type_drift(
        ["doc_id", "cum"],
        [("doc_id", "bigint"), ("cum", "bigint")],
        list(res.columns),
        list(res.types),
    )
    assert drift == ["cum: spark bigint vs duck float-class"]


def test_corpus_report_has_no_single_partition_rank(spark):
    """The round-3 verdict's last scale-killer: the dataset card's
    whole-corpus p50/p95 ran through a constant-group window — ONE sort
    task holding the entire corpus. group_quantiles' two-pass histogram
    rewrite must leave no row_number window partitioned without the
    coarse-bucket column anywhere in the corpus_report plan."""
    import re

    df = entrymod.queries()["corpus_report"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"row_number\(\) windowspecdefinition\([^)]*", plan)
    assert specs, "expected the quantile rank window in the plan"
    for spec in specs:
        assert "_gq_b" in spec, f"single-partition rank survives: {spec}"
