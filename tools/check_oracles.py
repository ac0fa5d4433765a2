"""Local stand-in for the driver's CORRECTNESS gate: run every
__spark_entry__.queries() entry AND its oracle_sql() on the same sf dir,
compare row-count + column names + order-insensitive values. Exits 1
before starting Spark when the two registries name different queries.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
       python tools/check_oracles.py --soak [sf_dir] [query ...]

--soak: SAMPLED-LINEAR value verification of the pair-family queries
whose full DuckDB oracles re-derive banded candidates quadratically
(infeasible above sf0.01). ~200 anchor ids are picked deterministically
(lowest portable hash); each family's oracle re-runs with its candidate
join restricted one-sided to anchors (cost: anchors x corpus), and the
Spark operator's FULL output — executed end-to-end first for the soak
timing — is filtered to anchor-touching rows and value-compared.
dedup_components gets a consistency check instead (component labels are
transitive/global): every anchored verified edge must join two nodes
Spark labeled identically, and an anchor is in Spark's node set iff it
has an anchored edge. fuzzy_match's oracle is already linear (fixed name
universe), so it runs the plain full compare. Default soak sf_dir:
testdata_sf1 (the round-4 adversarial 10x corpus)."""

from __future__ import annotations

import decimal
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402


def _norm(v):
    """Canonical string for one value, TYPE-TAGGED for numerics.

    The driver's value hasher fetches results through Arrow/pandas dtypes,
    so an int64 column on one side and a float64 on the other (e.g. DuckDB
    HUGEINT from a windowed sum) hash differently even when the printed
    values coincide ("0" vs "0.0").  Tag floats with ":f" so this local gate
    reproduces the driver's int-vs-float sensitivity; Decimals normalize to
    float first (both engines surface DECIMAL aggregates as float64 through
    the driver's fetch).
    """
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN:f"
        return f"{v:.9g}:f"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return f"{v}:i"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


# How the driver's hasher sees each engine type after the pandas fetch.
# DuckDB HUGEINT/DECIMAL become float64 through .df() even though
# fetchall() yields exact Python ints — that asymmetry is exactly the
# class of bug this check exists to catch (pack_sequences, round 2).
_SPARK_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOATING = {"float", "double"}


def _duck_class(type_str):
    t = type_str.upper()
    if t in {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}:
        return "int"
    if t in {"HUGEINT", "UHUGEINT", "FLOAT", "DOUBLE"} or t.startswith("DECIMAL"):
        return "float"
    return None


def _type_drift(scols, sdtypes, dcols, dtypes):
    """Columns whose numeric class differs between Spark and the driver's
    view of the DuckDB result (int64 vs float64 after pandas fetch)."""
    smap = dict(sdtypes)
    dmap = {c: _duck_class(str(t)) for c, t in zip(dcols, dtypes)}
    drift = []
    for c in scols:
        st = smap.get(c)
        dc = dmap.get(c)
        if st in _SPARK_INTEGRAL and dc == "float":
            drift.append(f"{c}: spark {st} vs duck float-class")
        elif st in _SPARK_FLOATING and dc == "int":
            drift.append(f"{c}: spark {st} vs duck int-class")
    return drift


# ------------------------------------------------------------- soak mode ----

#: portable-hash anchor order (sampling._portable_hash spec)
_ANCHOR_ORDER = "((%s %% 2147483648) * 2654435761) %% 2147483648"

N_ANCHORS = 200


def _anchor_ids(con, table: str, id_col: str, where: str = "TRUE",
                n: int = N_ANCHORS) -> list[int]:
    rows = con.sql(
        f"SELECT {id_col} FROM {table} WHERE {where} "
        f"ORDER BY {_ANCHOR_ORDER % id_col}, {id_col} LIMIT {n}").fetchall()
    return [int(r[0]) for r in rows]


def _set_anchors(con, ids: list[int]) -> None:
    con.execute("CREATE OR REPLACE TEMP TABLE anchors(aid BIGINT)")
    con.executemany("INSERT INTO anchors VALUES (?)", [(i,) for i in ids])


def soak_main() -> int:
    import time

    from pyspark.sql import functions as F

    from logunifier_spark import duck_oracles as do
    from logunifier_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--soak"]
    sf_dir = args[0] if args else str(
        Path(__file__).resolve().parents[1] / "testdata_sf1")
    only = set(args[1:])

    spark = get_spark(app_name="soak-oracle-check")  # local[SPARK_GRAFT_CPUS]
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    doc_anchors = _anchor_ids(con, "documents", "doc_id",
                              "length(text) >= 20")
    vec_anchors = _anchor_ids(con, "embeddings", "vec_id")
    queries = entrymod.queries()

    # (query, anchor ids, anchored-oracle SQL builder); params mirror the
    # entry pins — the full sf0.01 oracle for each query uses the same
    # generator with anchored=False, so spec drift is impossible.
    pair_specs = {
        "minhash_dedup": (doc_anchors, lambda: do.minhash_dedup_sql(
            max_bucket=500, anchored=True)),
        "verified_neardups": (doc_anchors, lambda: do.verified_pairs_sql(
            min_len=20, est_threshold=0.35, exact_threshold=0.5,
            max_bucket=500, anchored=True)),
        "simhash_pairs": (doc_anchors,
                          lambda: do.simhash_pairs_sql(anchored=True)),
        "ngram_jaccard": (doc_anchors, lambda: do.ngram_jaccard_sql(
            min_len=20, shingle_n=3, max_df=100, threshold=0.8,
            anchored=True)),
        "embedding_neardup": (vec_anchors, lambda: do.embedding_neardup_sql(
            threshold=0.45, anchored=True)),
        "semdedup_pairs": (vec_anchors, lambda: do.semdedup_pairs_sql(
            k=8, iters=2, threshold=0.45, anchored=True)),
    }

    failures, report = [], []

    def _run_spark(name):
        """Full end-to-end execution first (the soak timing), then the
        anchored slice for the value compare."""
        t0 = time.perf_counter()
        sdf = queries[name](spark, sf_dir)
        n_full = sdf.count()
        return sdf, n_full, time.perf_counter() - t0

    for name, (anchors, sql_fn) in pair_specs.items():
        if only and name not in only:
            continue
        sdf, n_full, spark_s = _run_spark(name)
        aset = set(anchors)
        if name == "minhash_dedup":
            flt = F.col("doc_id").isin(anchors)
        else:
            flt = F.col("id_a").isin(anchors) | F.col("id_b").isin(anchors)
        sub = sdf.where(flt)
        srows = [tuple(r) for r in sub.collect()]
        t1 = time.perf_counter()
        _set_anchors(con, anchors)
        res = con.sql(sql_fn())
        dcols, dtypes, drows = list(res.columns), list(res.types), res.fetchall()
        duck_s = time.perf_counter() - t1
        drift = _type_drift(sub.columns, sub.dtypes, dcols, dtypes)
        ok = (not drift and sorted(sub.columns) == sorted(dcols)
              and _canon(srows, sub.columns) == _canon(drows, dcols))
        mark = "✓" if ok else "✗"
        line = (f"{mark} {name}: {len(srows)}/{n_full} anchored/full rows, "
                f"spark {spark_s:.1f}s, anchored oracle {duck_s:.1f}s")
        print(line)
        report.append(line)
        if not ok:
            failures.append(name)
            if drift:
                print(f"    type drift: {drift}")
            else:
                a = _canon(srows, sub.columns)
                b = _canon(drows, dcols)
                print(f"    rows {len(a)} vs {len(b)}")
                for x, y in [(x, y) for x, y in zip(a, b) if x != y][:5]:
                    print(f"    spark={x}\n    duck ={y}")
                for extra in (set(map(tuple, a)) - set(map(tuple, b)),
                              set(map(tuple, b)) - set(map(tuple, a))):
                    for r in list(extra)[:3]:
                        print(f"    only-one-side: {r}")

    # dedup_components: anchored-edge consistency against the full labeling
    if not only or "dedup_components" in only:
        sdf, n_full, spark_s = _run_spark("dedup_components")
        comp = {int(r["node"]): int(r["component"]) for r in sdf.collect()}
        t1 = time.perf_counter()
        _set_anchors(con, doc_anchors)
        edges = con.sql(do.minhash_edges_anchored_sql(
            max_bucket=500)).fetchall()
        duck_s = time.perf_counter() - t1
        bad = [(a, b) for a, b in edges
               if comp.get(int(a)) is None or comp.get(int(a)) != comp.get(int(b))]
        touched = {int(x) for e in edges for x in e} & set(doc_anchors)
        in_out = set(doc_anchors) & comp.keys()
        minlab = [n for n, c in comp.items() if c > n]
        ok = not bad and touched == in_out and not minlab
        mark = "✓" if ok else "✗"
        line = (f"{mark} dedup_components: {len(edges)} anchored edges "
                f"consistent over {n_full} labels, spark {spark_s:.1f}s, "
                f"anchored oracle {duck_s:.1f}s [consistency check]")
        print(line)
        report.append(line)
        if not ok:
            failures.append("dedup_components")
            print(f"    mismatched edges: {bad[:5]}")
            print(f"    anchors w/ edges {len(touched)} vs in output {len(in_out)}")
            if minlab:
                print(f"    component > node at: {minlab[:5]}")

    # fuzzy_match: the full oracle is linear (fixed name universe) —
    # plain full value compare at soak scale
    if not only or "fuzzy_match" in only:
        sdf, n_full, spark_s = _run_spark("fuzzy_match")
        srows = [tuple(r) for r in sdf.collect()]
        t1 = time.perf_counter()
        res = con.sql(entrymod.oracle_sql()["fuzzy_match"])
        dcols, dtypes, drows = list(res.columns), list(res.types), res.fetchall()
        duck_s = time.perf_counter() - t1
        ok = (not _type_drift(sdf.columns, sdf.dtypes, dcols, dtypes)
              and sorted(sdf.columns) == sorted(dcols)
              and _canon(srows, sdf.columns) == _canon(drows, dcols))
        mark = "✓" if ok else "✗"
        line = (f"{mark} fuzzy_match: {n_full} rows FULL value compare, "
                f"spark {spark_s:.1f}s, full oracle {duck_s:.1f}s")
        print(line)
        report.append(line)
        if not ok:
            failures.append("fuzzy_match")

    print(f"\n{'SOAK ALL OK' if not failures else 'SOAK FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


def registry_mismatch(queries, oracles) -> list[str]:
    """One line per key in only one of queries() / oracle_sql()."""
    return ([f"query without oracle: {k}" for k in queries if k not in oracles]
            + [f"oracle without query: {k}" for k in oracles if k not in queries])


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    mismatch = registry_mismatch(queries, oracles)
    if mismatch:
        print("✗ REGISTRY MISMATCH\n    " + "\n    ".join(mismatch))
        return 1

    from logunifier_spark.session import get_spark
    spark = get_spark(app_name="oracle-check", master="local[8]")

    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    import time as _time
    for name, fn in queries.items():
        if only and name not in only:
            continue
        _t0 = _time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c for c in res.columns]
            dtypes = list(res.types)
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"✗ {name}: DUCKDB ERROR {type(e).__name__}: {e}")
            continue
        drift = _type_drift(scols, sdf.dtypes, dcols, dtypes)
        if drift:
            failures.append(name)
            print(f"✗ {name}: NUMERIC TYPE DRIFT (driver would hash-mismatch)")
            for d in drift:
                print(f"    {d}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = ok_cols and ok_count and _canon(srows, scols) == _canon(drows, dcols)
        if ok_vals:
            print(f"✓ {name}: {len(srows)} rows match "
                  f"[{_time.perf_counter() - _t0:.1f}s]")
        else:
            failures.append(name)
            print(f"✗ {name}: cols {sorted(scols)} vs {sorted(dcols)} | "
                  f"rows {len(srows)} vs {len(drows)}")
            if ok_cols and ok_count:
                a, b = _canon(srows, scols), _canon(drows, dcols)
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                for x, y in diffs:
                    print(f"    spark={x}\n    duck ={y}")
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(soak_main() if "--soak" in sys.argv else main())
