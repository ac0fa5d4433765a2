"""Independent DuckDB oracles for the approximate / hash-family operators.

Round 1 left 8 queries with rows-only checks because their hash families
(xxhash64, fmix64-uint64) have no DuckDB equivalent. The operators now use
ENGINE-PORTABLE arithmetic (Horner-mod-p codepoint hashes, md5 gram hashes,
embedded hyperplane/centroid literals), and this module re-implements each
pipeline *independently in SQL* — list comprehensions over unicode()
codepoints, window functions, bit ops — so the driver's value-hash compare
becomes a real correctness gate for minhash/simhash/LSH/IVF/fingerprint
and the multimodal plumbing.

Every generator mirrors the EXACT spec of its Spark operator (same
normalization, same gram identity, same tie-breaks); any drift in either
implementation breaks the value-hash equality at sf0.01.
"""

from __future__ import annotations

P = 2_147_483_647          # Mersenne prime 2^31 - 1 (dedup._MINHASH_P)
GRAM_BASE_1 = 131
GRAM_BASE_2 = 137


def _codepoints_cte(min_len: int, shingle_n: int, table: str = "documents",
                    text_col: str = "text", id_col: str = "doc_id") -> str:
    """docs → normalized string → codepoint list padded to >= shingle_n
    (mirrors dedup._horner_grams padding: zeros appended when the text is
    shorter than one window)."""
    pad = ", ".join("0" for _ in range(shingle_n))
    return f"""
docs AS (
  SELECT {id_col} AS doc_id,
         regexp_replace(lower({text_col}), '[ \t\r\n\f\x0B]+', ' ', 'g') AS t
  FROM {table} WHERE length({text_col}) >= {min_len}
),
cp AS (
  SELECT doc_id,
         ([unicode(t[i]) for i in range(1, length(t)+1)]
          || [{pad}])[1:greatest(length(t), {shingle_n})] AS c
  FROM docs
)"""


def _horner(window_expr: str, base: int) -> str:
    return (f"list_reduce([CAST(0 AS BIGINT)] || {window_expr}, "
            f"(a, x) -> (a*{base} + x) % {P})")


def _collapse_sql(min_len: int) -> tuple[str, str]:
    """Exact-duplicate collapse mirror of dedup.exact_groups over
    `documents` filtered to length >= min_len: returns (CTEs defining
    xreps/xmembers, the representatives-only relation to feed the pair
    chain). Grouping is by raw text (the operator groups by md5(text) —
    identical partition modulo an md5 collision)."""
    ctes = f"""xreps AS (
  SELECT text, min(doc_id) AS rep FROM documents
  WHERE length(text) >= {min_len} GROUP BY text),
xmembers AS (
  SELECT d.doc_id AS m, r.rep FROM documents d JOIN xreps r USING (text)
  WHERE length(d.text) >= {min_len})"""
    return ctes, "(SELECT rep AS doc_id, text FROM xreps)"


def _expand_sql(pair_rel: str, score_cols: str, unit_scores: str,
                anchored: bool = False) -> str:
    """Expansion mirror of dedup.expand_rep_pairs: rep pairs -> member
    pairs (scores inherited; canonical id_a < id_b) + within-group
    clone pairs at the unit scores. `anchored` keeps only member pairs
    touching the soak `anchors(aid)` relation (see _anchor_doc below)."""
    touch = ("\nWHERE ma.m IN (SELECT aid FROM anchors) "
             "OR mb.m IN (SELECT aid FROM anchors)") if anchored else ""
    touch2 = ("\n  AND (x.m IN (SELECT aid FROM anchors) "
              "OR y.m IN (SELECT aid FROM anchors))") if anchored else ""
    return f"""
SELECT least(ma.m, mb.m) AS id_a, greatest(ma.m, mb.m) AS id_b, {score_cols}
FROM {pair_rel} p
JOIN xmembers ma ON ma.rep = p.id_a
JOIN xmembers mb ON mb.rep = p.id_b{touch}
UNION ALL
SELECT x.m AS id_a, y.m AS id_b, {unit_scores}
FROM xmembers x JOIN xmembers y ON x.rep = y.rep AND x.m < y.m{touch2}
"""


#: reps of exact-duplicate groups containing at least one anchor — the
#: rep-level image of the soak anchor set (a member pair touches an anchor
#: iff its rep pair has an anchor's rep on one side). Requires the
#: _collapse_sql CTEs in scope plus an `anchors(aid)` relation.
AREP_CTE = """arep AS (
  SELECT DISTINCT x.rep AS aid FROM xmembers x
  JOIN anchors an ON x.m = an.aid)"""


def _minhash_pairs_ctes(min_len: int, num_hashes: int, bands: int,
                        shingle_n: int, max_bucket: int | None,
                        table: str = "documents",
                        anchor_rel: str | None = None) -> str:
    """The shared CTE chain docs→…→pairs of the minhash pipeline (used by
    the keep-set AND the connected-components oracles).

    `anchor_rel` (a relation with one BIGINT column `aid`) switches the
    candidate join to the SAMPLED-LINEAR form: one side is restricted to
    anchor docs BEFORE the join (anchors x bucket-members work instead of
    all-pairs-per-bucket), the pair is canonicalized with least/greatest
    (every score downstream is symmetric), and DISTINCT collapses the
    double orientation of anchor-anchor pairs. Signature/band/bucket-cap
    CTEs stay GLOBAL — only pair enumeration is sampled, so each reported
    pair is computed by the exact full-oracle spec."""
    rows_per_band = num_hashes // bands
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(g, x -> (x*{2 * i + 1} "
        f"+ {(1_000_003 * (i + 7)) % P}) % {P}))"
        for i in range(num_hashes))
    band_key = " || ',' || ".join(
        f"CAST(sig[band*{rows_per_band}+{r + 1}] AS VARCHAR)"
        for r in range(rows_per_band))
    if max_bucket is not None:
        bucket_cap = f"""
cool AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {max_bucket}
),
pruned AS (SELECT b.* FROM bands b JOIN cool USING (band, key)),"""
        cand_src = "pruned"
    else:
        bucket_cap = ""
        cand_src = "bands"
    if anchor_rel is not None:
        cand = f"""cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM {cand_src} a JOIN {cand_src} b USING (band, key)
  WHERE a.doc_id IN (SELECT aid FROM {anchor_rel})
    AND a.doc_id <> b.doc_id
)"""
    else:
        cand = f"""cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {cand_src} a JOIN {cand_src} b USING (band, key)
  WHERE a.doc_id < b.doc_id
)"""
    return f"""{_codepoints_cte(min_len, shingle_n, table=table)},
grams AS (
  SELECT doc_id, list_distinct([
      {_horner(f"c[i:i+{shingle_n - 1}]", GRAM_BASE_1)}
      for i in range(1, len(c) - {shingle_n - 2})
  ]) AS g
  FROM cp
),
sigs AS (
  SELECT doc_id,
         [ {sig_exprs} ] AS sig
  FROM grams
),
bands AS (
  SELECT doc_id, band, {band_key} AS key
  FROM sigs CROSS JOIN range(0, {bands}) br(band)
),{bucket_cap}
{cand},
pairs AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, {num_hashes + 1}),
                         i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0 AS sim
  FROM cand
  JOIN sigs sa ON sa.doc_id = cand.id_a
  JOIN sigs sb ON sb.doc_id = cand.id_b
)"""


def minhash_dedup_sql(min_len: int = 20, num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 5,
                      threshold: float = 0.7,
                      max_bucket: int | None = None,
                      anchored: bool = False) -> str:
    """Keep-set of minhash_dedup: exact-duplicate collapse (mirroring
    collapse_exact=True — the chain runs on one representative per
    distinct text; non-rep clones are dropped by construction), then
    signature → banded LSH candidates (optionally hot-bucket-capped,
    mirroring minhash_lsh_pairs.max_bucket) → signature-agreement
    verify → drop the higher id of each pair.

    `anchored`: keep-set RESTRICTED to the soak `anchors(aid)` relation —
    an anchor survives iff it is its text group's rep AND never the
    higher id of a >=threshold pair; both facts are decided by pairs
    touching the anchor, so the anchored candidate join is linear."""
    collapse, rep_table = _collapse_sql(min_len)
    prelude = _minhash_pairs_ctes(
        min_len, num_hashes, bands, shingle_n, max_bucket, table=rep_table,
        anchor_rel="arep" if anchored else None)
    if anchored:
        return f"""
WITH {collapse},
{AREP_CTE},
{prelude}
SELECT aid AS doc_id FROM anchors
WHERE aid IN (SELECT doc_id FROM docs)
  AND aid NOT IN (SELECT DISTINCT id_b FROM pairs WHERE sim >= {threshold})
"""
    return f"""
WITH {collapse},
{prelude}
SELECT doc_id FROM docs
WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM pairs WHERE sim >= {threshold})
"""


def minhash_components_sql(min_len: int = 20, num_hashes: int = 64,
                           bands: int = 16, shingle_n: int = 5,
                           threshold: float = 0.7,
                           max_bucket: int | None = None) -> str:
    """(node, component) of connected_components over the minhash pair
    graph — INDEPENDENT algorithm: a recursive-CTE transitive closure
    (min reachable id per node), quadratic on dense clusters and only
    viable at oracle scale, vs the operator's iterative min-label
    propagation. Disagreement in either implementation breaks the
    value-hash equality."""
    prelude = _minhash_pairs_ctes(min_len, num_hashes, bands, shingle_n,
                                  max_bucket)
    return f"""
WITH RECURSIVE {prelude},
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs WHERE sim >= {threshold}
  UNION
  SELECT id_b, id_a FROM pairs WHERE sim >= {threshold}
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS node, least(s, min(d)) AS component
FROM reach GROUP BY s
"""


def minhash_edges_anchored_sql(min_len: int = 20, num_hashes: int = 64,
                               bands: int = 16, shingle_n: int = 5,
                               threshold: float = 0.7,
                               max_bucket: int | None = None) -> str:
    """(id_a, id_b) verified minhash edges TOUCHING the soak `anchors(aid)`
    relation — the linear sampled oracle for dedup_components: component
    labels are a global (transitive) property no linear oracle can
    re-derive, but every anchored EDGE pins two facts the labeling must
    satisfy (same component on both ends; an anchor appears in the node
    set iff it has at least one such edge). Same chain as
    minhash_components_sql (no exact-collapse, matching the operator
    composition in the entry), candidate join anchored one-sided."""
    prelude = _minhash_pairs_ctes(min_len, num_hashes, bands, shingle_n,
                                  max_bucket, anchor_rel="anchors")
    return f"""
WITH {prelude}
SELECT id_a, id_b FROM pairs WHERE sim >= {threshold}
"""


def simhash_pairs_sql(min_len: int = 20, shingle_n: int = 4,
                      max_hamming: int = 3, max_bucket: int = 10_000,
                      sim_bits: int = 60, block_bits: int = 15,
                      anchored: bool = False) -> str:
    """(id_a, id_b, hamming) of simhash_pairs: 60-bit portable simhash
    (two Horner bases, combined-key gram identity, per-bit majority vote),
    4x15-bit block pigeonhole with the hot-bucket cap, Hamming verify.
    `anchored`: sampled-linear form — block join restricted one-sided to
    reps of anchor groups, output filtered to anchor-touching member
    pairs (hamming is symmetric, so least/greatest canonicalization plus
    a re-join to `sh` preserves the full-oracle spec pair-for-pair)."""
    half = sim_bits // 2
    n_blocks = sim_bits // block_bits
    mask = (1 << block_bits) - 1
    # bit i: h1 bit i (combined bit 31+i) for i < half, else h2 bit (i-half)
    vote_terms = "\n       + ".join(
        f"(CASE WHEN 2*len(list_filter(g, x -> ((x >> {31 + i if i < half else i - half}) & 1) = 1)) > len(g) "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(sim_bits))
    collapse, rep_table = _collapse_sql(min_len)
    if anchored:
        cand = f"""cand0 AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM pruned a JOIN pruned b USING (blk, val)
  WHERE a.doc_id IN (SELECT aid FROM arep) AND a.doc_id <> b.doc_id
),
cand AS (
  SELECT id_a, id_b, sa.sh AS sh_a, sb.sh AS sh_b
  FROM cand0 JOIN sh sa ON sa.doc_id = cand0.id_a
             JOIN sh sb ON sb.doc_id = cand0.id_b
)"""
        arep = f",\n{AREP_CTE}"
    else:
        cand = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sh AS sh_a, b.sh AS sh_b
  FROM pruned a JOIN pruned b USING (blk, val)
  WHERE a.doc_id < b.doc_id
)"""
        arep = ""
    return f"""
WITH {collapse}{arep},
{_codepoints_cte(min_len, shingle_n, table=rep_table)},
grams AS (
  SELECT doc_id, list_distinct([
      ({_horner(f"c[i:i+{shingle_n - 1}]", GRAM_BASE_1)} << 31)
      | {_horner(f"c[i:i+{shingle_n - 1}]", GRAM_BASE_2)}
      for i in range(1, len(c) - {shingle_n - 2})
  ]) AS g
  FROM cp
),
sh AS (
  SELECT doc_id,
       {vote_terms} AS sh
  FROM grams
),
blocks AS (
  SELECT doc_id, sh, blk, (sh >> ({block_bits}*blk)) & {mask} AS val
  FROM sh CROSS JOIN range(0, {n_blocks}) rb(blk)
),
cool AS (
  SELECT blk, val FROM blocks GROUP BY blk, val HAVING count(*) <= {max_bucket}
),
pruned AS (
  SELECT b.doc_id, b.sh, b.blk, b.val FROM blocks b JOIN cool USING (blk, val)
),
{cand},
vp AS (
  SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
  FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming})
{_expand_sql('vp', 'hamming', 'CAST(0 AS BIGINT) AS hamming',
             anchored=anchored)}
"""


def ngram_jaccard_sql(min_len: int = 20, shingle_n: int = 3,
                      max_df: int = 100, threshold: float = 0.8,
                      anchored: bool = False) -> str:
    """(id_a, id_b, jac) of dedup.ngram_jaccard_pairs (character n-grams,
    df-pruned candidate generation, exact Jaccard verify) — moved here
    from the entry's inline string so the soak's `anchored` variant and
    the sf0.01 oracle share one spec. `anchored`: the gram-key candidate
    join is restricted one-sided to reps of anchor groups; Jaccard is
    symmetric, so least/greatest canonicalization is exact."""
    if anchored:
        arep = f",\n{AREP_CTE}"
        cand = """cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM exr a JOIN exr b USING (gram)
  WHERE a.doc_id IN (SELECT aid FROM arep) AND a.doc_id <> b.doc_id
)"""
    else:
        arep = ""
        cand = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM exr a JOIN exr b USING (gram)
  WHERE a.doc_id < b.doc_id
)"""
    return f"""
WITH xreps AS (
  -- exact-duplicate collapse mirror of dedup.exact_groups
  -- (ngram_jaccard_pairs always collapses): the chain runs on one
  -- representative per distinct text; df counts distinct texts
  SELECT text, min(doc_id) AS rep FROM documents
  WHERE length(text) >= {min_len} GROUP BY text),
xmembers AS (
  SELECT d.doc_id AS m, r.rep FROM documents d
  JOIN xreps r USING (text) WHERE length(d.text) >= {min_len}){arep},
sh AS (
  SELECT doc_id,
         list_distinct([substr(t, i, {shingle_n})
                        for i in range(1, greatest(len(t) - {shingle_n - 1}, 1) + 1)]) AS g
  FROM (SELECT rep AS doc_id,
               regexp_replace(lower(text), '[ \t\r\n\f\x0B]+', ' ', 'g') AS t
        FROM xreps)
),
ex AS (SELECT doc_id, unnest(g) AS gram FROM sh),
-- df-pruning mirror of ngram_jaccard_pairs(max_df={max_df}): grams in
-- more than {max_df} DISTINCT TEXTS are dropped from CANDIDATE
-- GENERATION only
rare AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) <= {max_df}),
exr AS (SELECT doc_id, gram FROM ex JOIN rare USING (gram)),
{cand},
vp AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(sa.g, sb.g)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.g, sb.g))), 4) AS jac
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE CAST(len(list_intersect(sa.g, sb.g)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.g, sb.g))) >= {threshold})
{_expand_sql('vp', 'jac', 'round(1.0, 4) AS jac', anchored=anchored)}
"""


def fingerprint_dupes_sql() -> str:
    """(fp, n) duplicate fingerprint groups: min md5 over word 4-grams
    (textstats.fingerprint) — md5 exists verbatim in both engines."""
    return r"""
WITH w AS (
  SELECT string_split(regexp_replace(lower(text), '[ \t\r\n\f\x0B]+', ' ', 'g'), ' ') AS words
  FROM documents
),
fp AS (
  SELECT list_min([
      md5(array_to_string(words[i:i+3], ' '))
      for i in range(1, greatest(len(words) - 3, 1) + 1)
  ]) AS fp
  FROM w
)
SELECT fp, count(*) AS n FROM fp GROUP BY fp HAVING count(*) > 1
"""


# ------------------------------------------------------------------ ANN ----

def _sql_dot(a: str, b: str) -> str:
    """Ordered left-fold dot product — same summation order as
    similarity.dot's F.aggregate, so float64 results are bit-identical."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))")


def _sql_norm(a: str) -> str:
    return (f"sqrt(list_sum(list_transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)} + 1e-12))"


def _oracle_hyperplane(dim: int, bit: int) -> list[float]:
    """Independent re-derivation of the hyperplane spec (NOT imported from
    operators.similarity, so a transcription bug there cannot leak into the
    oracle). Spec: seed state = (bit+1) * 0x9E3779B97F4A7C15; per component
    advance the 64-bit LCG state = state*6364136223846793005 +
    1442695040888963407 (mod 2^64) and emit (state>>32)/2^31 - 1 ∈ [-1,1)."""
    state = (bit + 1) * 0x9E3779B97F4A7C15
    out = []
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        out.append(((state >> 32) / 2**31) - 1.0)
    return out


def _plane_literal(dim: int, bit: int) -> str:
    return "[" + ", ".join(repr(v) for v in _oracle_hyperplane(dim, bit)) + "]"


def _lsh_topk_ctes(dim: int, k: int, n_bits: int, n_queries: int) -> str:
    """CTE chain ending in lsh_top(qid, vec_id, rank) — the lsh_topk
    spec, shared by the ann_lsh gate oracle and the ann_recall
    evaluation oracle (one transcription of the bucket/probe/rank
    logic, not two that can drift)."""
    bucket_terms = "\n         + ".join(
        f"(CASE WHEN {_sql_dot('embedding', _plane_literal(dim, b))} >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits))
    probes = ", ".join(["b0"] + [f"xor(b0, {1 << i})" for i in range(n_bits)])
    return f"""cb AS (
  SELECT vec_id, embedding,
         {bucket_terms} AS bucket
  FROM embeddings
),
qb AS (
  SELECT vec_id AS qid, embedding AS qv, bucket AS b0
  FROM cb WHERE vec_id < {n_queries}
),
probes AS (
  SELECT qid, qv, unnest([{probes}]) AS bucket FROM qb
),
scored AS (
  SELECT DISTINCT qid, cb.vec_id,
         {_sql_cosine('cb.embedding', 'qv')} AS score
  FROM probes JOIN cb USING (bucket)
),
lsh_top AS (
  SELECT qid, vec_id, rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM scored) WHERE rank <= {k}
)"""


def ann_lsh_sql(dim: int = 64, k: int = 5, n_bits: int = 10,
                n_queries: int = 5) -> str:
    """(qid, vec_id, rank) of lsh_topk: hyperplane sign buckets (the SAME
    deterministic plane constants, embedded as literals), 1-bit multiprobe,
    cosine rank within the candidate set."""
    return f"""
WITH {_lsh_topk_ctes(dim, k, n_bits, n_queries)}
SELECT qid, vec_id, rank FROM lsh_top
"""


def ann_recall_sql(dim: int = 64, k: int = 10, n_bits: int = 10,
                   n_queries: int = 25) -> str:
    """(qid, hits, k, recall_ppm) of similarity.ann_recall: the LSH
    top-k (same CTE chain as the ann_lsh oracle) intersected with exact
    brute-force top-k ground truth per query; denominator is k even
    when the candidate set under-fills (an index that can't fill k
    slots has low recall). Integer // division mirrors Spark DIV."""
    return f"""
WITH {_lsh_topk_ctes(dim, k, n_bits, n_queries)},
exact_scored AS (
  SELECT q.vec_id AS qid, e.vec_id,
         {_sql_cosine('e.embedding', 'q.embedding')} AS score
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < {n_queries}) q
),
exact_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM exact_scored) WHERE rank <= {k}
),
hits AS (
  SELECT a.qid, CAST(count(*) AS BIGINT) AS hits
  FROM lsh_top a JOIN exact_top e
    ON a.qid = e.qid AND a.vec_id = e.vec_id
  GROUP BY 1
)
SELECT q.qid, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
       CAST({k} AS BIGINT) AS k,
       CAST((coalesce(h.hits, 0) * 1000000) // {k} AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings
      WHERE vec_id < {n_queries}) q
LEFT JOIN hits h USING (qid)
"""


def ann_ivf_sql(k: int = 5, n_centroids: int = 16, nprobe: int = 4,
                n_queries: int = 5, sel_mult: int = 2_654_435_761) -> str:
    """(qid, vec_id, rank) of ivf_topk: portable centroid selection
    (((id mod 2^31)*MULT) mod 2^31 order, id tie-break — mirrors
    ivf_centroids' overflow-safe reduced hash), argmax cell assignment with
    larger-cid tie-break (mirrors array_max on (score, cid) structs),
    nprobe query cells, cosine rank."""
    h = f"((vec_id % 2147483648) * {sel_mult}) % 2147483648"
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
         embedding AS cv
  FROM embeddings
  ORDER BY {h}, vec_id
  LIMIT {n_centroids}
),
cell_scores AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_sql_cosine('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, cid DESC) AS rk
    FROM cell_scores) WHERE rk = 1
),
qcells AS (
  SELECT qid, qv, cid FROM (
    SELECT q.vec_id AS qid, q.embedding AS qv, c.cid,
           {_sql_cosine('q.embedding', 'c.cv')} AS s,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_cosine('q.embedding', 'c.cv')} DESC,
                                       c.cid DESC) AS rk
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {n_queries}) WHERE rk <= {nprobe}
),
scored AS (
  SELECT qid, a.vec_id, {_sql_cosine('a.embedding', 'qv')} AS score
  FROM assigned a JOIN qcells USING (cid)
)
SELECT qid, vec_id, rank FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= {k}
"""


# ----------------------------------------------------------- multimodal ----

def media_frame_sample_sql(n: int = 64, every_ms: int = 1000,
                           duration_ms: int = 10_000) -> str:
    """(media_id, frame_no, offset_ms) of sample_frames over synth_media(n):
    videos are every 3rd id (i%3==2), duration 10s → 10 frames each. Pure
    integer arithmetic — regenerated from range(), no hashing involved."""
    n_frames = max(duration_ms // every_ms, 1)
    return f"""
SELECT 'm' || lpad(CAST(i AS VARCHAR), 6, '0') AS media_id,
       CAST(frame_no AS INT) AS frame_no,
       CAST(frame_no * {every_ms} AS INT) AS offset_ms
FROM range(0, {n}) t(i) CROSS JOIN range(0, {n_frames}) f(frame_no)
WHERE i % 3 = 2
"""


def media_resize_sql(n: int = 64, width: int = 8, height: int = 6) -> str:
    """(media_id, w, h, payload_bytes) of resize_images over synth_media(n):
    images are i%3==0; fake resize emits width*height*3 payload bytes."""
    return f"""
SELECT 'm' || lpad(CAST(i AS VARCHAR), 6, '0') AS media_id,
       {width} AS w, {height} AS h,
       {width * height * 3} AS payload_bytes
FROM range(0, {n}) t(i) WHERE i % 3 = 0
"""


def multimodal_features_golden(n: int = 64, dim: int = 8) -> list[tuple]:
    """Sealed pure-Python re-implementation of synth_media + _fake_decode
    (hashlib + struct only — no Spark, no pandas): the expected
    (media_id, kind, decode_ok, f0) rows. Used as a golden-VALUES oracle
    because DuckDB's sha256() only accepts VARCHAR, not the binary payload."""
    import hashlib
    import struct

    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(str(i).encode()).digest() * 4
        h = hashlib.sha256(payload).digest()
        need = dim * 4
        buf = (h * (need // len(h) + 1))[:need]
        u0 = struct.unpack("<I", buf[:4])[0]
        f0 = struct.unpack("<f", struct.pack("<f", u0 / 2**32))[0]  # float32
        rows.append((f"m{i:06d}", kind, "ok", f0))
    return rows


def multimodal_features_sql(n: int = 64, dim: int = 8) -> str:
    values = ",\n  ".join(
        f"('{mid}', '{kind}', '{ok}', {f0!r})"
        for mid, kind, ok, f0 in multimodal_features_golden(n, dim))
    # CAST: DuckDB parses the bare literals as DECIMAL(38,18); the driver
    # float-normalizes only float values, so force DOUBLE (the float32
    # feature widened to double is exact on both sides)
    return f"""
SELECT media_id, kind, decode_ok, CAST(f0 AS DOUBLE) AS f0 FROM (VALUES
  {values}
) AS t(media_id, kind, decode_ok, f0)
"""


def embedding_neardup_sql(threshold: float = 0.45,
                          anchored: bool = False) -> str:
    """(id_a, id_b, cos) of similarity.embedding_neardup_pairs — the
    all-pairs exact-cosine oracle, moved here from the entry's inline
    string. `anchored`: one side of the pair join restricted to
    `anchors(aid)` (anchors x corpus cosine evaluations instead of n²);
    the ordered double fold is orientation-invariant (per-element float
    products commute, summation order is element order), so
    least/greatest + DISTINCT reproduces the full spec on
    anchor-touching pairs."""
    if anchored:
        # norms hoisted to one CTE (a pure per-vector function — identical
        # doubles to the inline form, evaluated once instead of per pair)
        return f"""
WITH nv AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * x))) AS nrm
  FROM embeddings),
pairs AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
                  greatest(a.vec_id, b.vec_id) AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> CAST(x[1] AS DOUBLE) * x[2]))
         / (a.nrm * b.nrm + 1e-12) AS cos
  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id
   AND a.vec_id IN (SELECT aid FROM anchors)
)
SELECT id_a, id_b, round(cos, 4) AS cos FROM pairs WHERE cos >= {threshold}
"""
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 x -> CAST(x[1] AS DOUBLE) * x[2]))
         / (sqrt(list_sum(list_transform(a.embedding,
                                         x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(b.embedding,
                                           x -> CAST(x AS DOUBLE) * x)))
            + 1e-12) AS cos
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos, 4) AS cos FROM pairs WHERE cos >= {threshold}
"""


# ------------------------------------------------------------- SemDeDup ----

def _kmeans_ctes(k: int = 8, iters: int = 2, scale: int = 1000,
                 table: str = "embeddings", id_col: str = "vec_id",
                 vec_col: str = "embedding", prefix: str = "") -> str:
    """Unrolled integer-exact Lloyd iterations as a CTE chain ending in
    `kassign(vec_id, cluster)` — the SQL mirror of kmeans.kmeans_centroids
    + the final zero-shuffle assignment. Same spec as the handwritten
    kmeans_clusters oracle (floor-quantize, int64 squared-L2,
    min([d, cid]) lexicographic tie-break, floor-div update, empty
    clusters keep their previous centroid), generated for any (k, iters)
    so composite oracles (semdedup, pq_encode) can reuse it; `prefix`
    namespaces every CTE so several independent trainings (one per PQ
    subspace) can coexist in one WITH chain. kassign also carries the
    winning squared distance (`dist`) for reconstruction-error sums."""
    P = prefix
    seed_key = "((vec_id % 2147483648) * 2654435761) % 2147483648"
    dist = ("CAST(list_sum([(qv[i]-cv[i])*(qv[i]-cv[i]) "
            "for i in range(1, len(qv)+1)]) AS BIGINT)")
    parts = [f"""{P}q AS (
  SELECT {id_col} AS vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)
          for x in {vec_col}] AS qv
  FROM {table}),
{P}c0 AS (
  SELECT row_number() OVER (ORDER BY {seed_key}, vec_id) - 1 AS cid,
         qv AS cv
  FROM {P}q ORDER BY {seed_key}, vec_id LIMIT {k})"""]
    for it in range(1, iters + 1):
        parts.append(f"""{P}s{it} AS (
  SELECT vec_id, qv, cid, {dist} AS d
  FROM {P}q CROSS JOIN {P}c{it - 1}),
{P}a{it} AS (
  SELECT vec_id, qv, min([d, cid])[2] AS cluster
  FROM {P}s{it} GROUP BY vec_id, qv),
{P}u{it} AS (
  SELECT cluster AS cid, pos,
         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS comp
  FROM (SELECT cluster, unnest(qv) AS v,
               generate_subscripts(qv, 1) AS pos
        FROM {P}a{it})
  GROUP BY cluster, pos),
{P}c{it} AS (
  SELECT {P}c{it - 1}.cid, coalesce(n.cv, {P}c{it - 1}.cv) AS cv
  FROM {P}c{it - 1}
  LEFT JOIN (SELECT cid, list(comp ORDER BY pos) AS cv
             FROM {P}u{it} GROUP BY cid) n USING (cid))""")
    parts.append(f"""{P}sfin AS (
  SELECT vec_id, cid, {dist} AS d
  FROM {P}q CROSS JOIN {P}c{iters}),
{P}kassign AS (
  SELECT vec_id, min([d, cid])[2] AS cluster,
         CAST(min([d, cid])[1] AS BIGINT) AS dist
  FROM {P}sfin GROUP BY vec_id)""")
    return ",\n".join(parts)


def semdedup_pairs_sql(k: int = 8, iters: int = 2, scale: int = 1000,
                       threshold: float = 0.7,
                       anchored: bool = False) -> str:
    """(cluster, id_a, id_b, cos) of semdedup.semdedup_pairs: k-means
    cluster assignment (unrolled, integer-exact) + within-cluster cosine
    pairs. Cosine is the same ordered double-precision fold as the
    embedding_neardup oracle (`_sql_dot`). `anchored`: the within-cluster
    join (the quadratic term) is restricted one-sided to `anchors(aid)` —
    kmeans training stays GLOBAL and exact; cluster and cosine are
    symmetric in the pair, so least/greatest + DISTINCT is the full
    spec on anchor-touching pairs."""
    cos = _sql_cosine("a.embedding", "b.embedding")
    if anchored:
        join = ("ON a.cluster = b.cluster AND a.vec_id <> b.vec_id "
                "AND a.vec_id IN (SELECT aid FROM anchors)")
        sel = ("SELECT DISTINCT a.cluster, "
               "least(a.vec_id, b.vec_id) AS id_a, "
               "greatest(a.vec_id, b.vec_id) AS id_b,")
    else:
        join = "ON a.cluster = b.cluster AND a.vec_id < b.vec_id"
        sel = "SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,"
    return f"""
WITH {_kmeans_ctes(k, iters, scale)},
e AS (
  SELECT em.vec_id, em.embedding, ka.cluster
  FROM embeddings em JOIN kassign ka USING (vec_id))
{sel}
       round({cos}, 4) AS cos
FROM e a JOIN e b {join}
WHERE {cos} >= CAST({threshold} AS DOUBLE)
"""


# --------------------------------------------------------------- TF-IDF ----

def tfidf_top_terms_sql(k: int = 5) -> str:
    """(doc_id, term, tf, df, rank, score) of tfidf.tfidf_top_terms —
    same tokenization (ASCII whitespace class + ^[a-z]{2,}$ term filter),
    same idf = ln((N+1)/(df+1)) with the division done exactly once in
    double (correctly rounded on both engines), rank on the unrounded
    score with term-ascending tie-break."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[ \t\r\n\f\x0B]+')) AS term
  FROM documents),
terms AS (
  SELECT doc_id, term FROM toks WHERE regexp_full_match(term, '[a-z]{{2,}}')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rnk AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rnk <= {k}
"""


# -------------------------------------------------- unigram perplexity ----

def unigram_logppl_sql(quant: int = 10**6) -> str:
    """(doc_id, n_tokens, logppl) of perplexity.unigram_logppl — same
    tokenization as tfidf, same fixed-point contribution
    floor(quant * ln((cnt+1)/(T+V))) summed as integers (order-free),
    same two correctly-rounded double ops to divide back out."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[ \t\r\n\f\x0B]+')) AS term
  FROM documents),
terms AS (
  SELECT doc_id, term FROM toks WHERE regexp_full_match(term, '[a-z]{{2,}}')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) + count(*) AS denom FROM lm),
contrib AS (
  SELECT doc_id, tf,
         tf * CAST(floor(CAST({quant} AS DOUBLE)
                         * ln(CAST(cnt + 1 AS DOUBLE)
                              / CAST(denom AS DOUBLE))) AS BIGINT) AS c
  FROM tf JOIN lm USING (term) CROSS JOIN tot),
agg AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(c) AS BIGINT) AS s
  FROM contrib GROUP BY 1)
SELECT doc_id, n_tokens,
       round(-(CAST(s AS DOUBLE)
               / (CAST({quant} AS DOUBLE) * n_tokens)), 6) AS logppl
FROM agg
"""


# ------------------------------------------------------------ KMV sketch ----

def kmv_users_sql(k: int = 64) -> str:
    """(event_type, est_distinct, exact) of stats.kmv_distinct over
    events.user_id — same 48-bit md5-prefix hash (bit-identical in both
    engines), ranked per group in DuckDB: the result must agree exactly
    with the operator's because the estimate is a pure function of the
    distinct hash set."""
    numer = (k - 1) * (1 << 48)
    return f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS hh
  FROM events WHERE user_id IS NOT NULL),
r AS (
  SELECT event_type, hh,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h)
SELECT event_type,
       CAST(CASE WHEN max(nd) < {k} THEN max(nd)
                 ELSE {numer} // max(CASE WHEN rn = {k} THEN hh END)
            END AS BIGINT) AS est_distinct,
       max(nd) < {k} AS exact
FROM r GROUP BY event_type
"""


# ------------------------------------------------------------------ BM25 ----

def bm25_sql(queries: list[tuple[str, str]], k1: float = 1.2,
             b: float = 0.75, top_k: int = 10,
             quant: int = 10**9) -> str:
    """(query_id, doc_id, rank, score) of bm25.bm25_topk — same
    tokenization convention, same Lucene idf, same fixed-point
    floor(1e9·score) integer sum (which also makes rank ties exact).
    Query tokenization happens HERE in Python (re, not the operator's
    Spark expressions) so the oracle shares no code with the operator.
    Float expression trees mirror the operator's parenthesization;
    decimal literals are CAST to DOUBLE (DuckDB parses bare decimals
    as DECIMAL, whose arithmetic would diverge)."""
    import re as _re
    pairs = sorted({(qid, t) for qid, qt in queries
                    for t in _re.split("[ \t\r\n\f\x0B]+", qt.lower())
                    if _re.fullmatch("[a-z]{2,}", t)})
    vals = ", ".join(f"('{q}', '{t}')" for q, t in pairs)
    return f"""
WITH q AS (SELECT * FROM (VALUES {vals}) v(query_id, term)),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[ \t\r\n\f\x0B]+')) AS term
  FROM documents),
terms AS (
  SELECT doc_id, term FROM toks WHERE regexp_full_match(term, '[a-z]{{2,}}')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
avg AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl),
hits AS (SELECT q.query_id, tf.doc_id, tf.term, tf.tf
         FROM tf JOIN q USING (term)),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
contrib AS (
  SELECT h.query_id, h.doc_id,
         CAST(floor(CAST({quant} AS DOUBLE) * (
             ln(CAST(1.0 AS DOUBLE)
                + (CAST((SELECT n FROM n) AS DOUBLE) - d.df
                   + CAST(0.5 AS DOUBLE))
                  / (d.df + CAST(0.5 AS DOUBLE)))
             * (h.tf * CAST({k1 + 1.0!r} AS DOUBLE))
             / (h.tf + CAST({k1!r} AS DOUBLE)
                       * (CAST({1.0 - b!r} AS DOUBLE)
                          + CAST({b!r} AS DOUBLE) * l.dl
                            / (SELECT avgdl FROM avg)))
         )) AS BIGINT) AS c
  FROM hits h JOIN dfreq d USING (term) JOIN dl l USING (doc_id)),
agg AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS s
        FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, doc_id) AS INT) AS rank,
         round(CAST(s AS DOUBLE) / CAST({quant} AS DOUBLE), 6) AS score
  FROM agg)
SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {top_k}
"""


# -------------------------------------------------- repeated n-grams ----

def repeated_ngrams_sql(n: int = 3) -> str:
    """(doc_id, n_grams, n_repeated, repeated_frac) of
    dedup.repeated_ngram_stats — same fingerprint-style word
    normalization, md5 word n-grams, global-total > 1 test."""
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(text),
                                     '[ \t\r\n\f\x0B]+', ' ', 'g'),
                      ' ') AS words
  FROM documents),
g AS (
  SELECT doc_id, unnest([
      md5(array_to_string(words[i:i+{n - 1}], ' '))
      for i in range(1, len(words) - {n} + 2)
  ]) AS gram
  FROM w WHERE len(words) >= {n}),
tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
tot AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS total FROM tf GROUP BY 1)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN total > 1 THEN tf ELSE 0 END) AS BIGINT)
         AS n_repeated,
       round(CAST(sum(CASE WHEN total > 1 THEN tf ELSE 0 END) AS DOUBLE)
             / CAST(sum(tf) AS BIGINT), 6) AS repeated_frac
FROM tf JOIN tot USING (gram) GROUP BY doc_id
"""


# -------------------------------------------------------------- pagerank ----

def user_pagerank_sql(iters: int = 3, damping_pct: int = 85,
                      quant: int = 10**12) -> str:
    """(user_id, rank_q) of graph.pagerank_fixed_point over
    graph.transition_edges(events) — the integer power-iteration
    recurrence re-derived in SQL with each iteration unrolled as a CTE
    (the kmeans oracle pattern). All arithmetic is int64 floor-division,
    so the two engines must agree bit-for-bit."""
    d = damping_pct
    ctes = [f"""
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type
                               ORDER BY event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL AND dst <> src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
tele AS (SELECT ({100 - d} * ({quant} // n)) // 100 AS t,
                {quant} // n AS init FROM nn),
r0 AS (SELECT node, CAST((SELECT init FROM tele) AS BIGINT) AS rank_q
       FROM nodes)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
r{i} AS (
  SELECT n.node,
         CAST((SELECT t FROM tele)
              + ({d} * coalesce(x.s, 0)) // 100 AS BIGINT) AS rank_q
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_q // d.deg) AS s
    FROM e JOIN deg d USING (src) JOIN r{i - 1} r ON r.node = e.src
    GROUP BY 1) x ON x.node = n.node)""")
    return (f"WITH {','.join(ctes)}\n"
            f"SELECT node AS user_id, rank_q FROM r{iters}")


def pq_encode_sql(m: int = 8, k: int = 16, iters: int = 1,
                  scale: int = 1000, dim: int = 64) -> str:
    """(vec_id, code, err) of pq.pq_encode: m independent per-subspace
    unrolled-Lloyd trainings (prefixed CTE chains) + the packed-code /
    error-sum projection. Subvector j is embedding[j*d+1 : (j+1)*d]
    (1-based inclusive slicing on both engines)."""
    d = dim // m
    bits = max(1, (k - 1).bit_length())
    ctes = ",\n".join(
        _kmeans_ctes(
            k, iters, scale,
            table=(f"(SELECT vec_id, embedding[{j * d + 1}:{(j + 1) * d}]"
                   " AS sub FROM embeddings)"),
            vec_col="sub", prefix=f"p{j}_")
        for j in range(m))
    code = " + ".join(f"p{j}_kassign.cluster * {1 << (bits * j)}"
                      for j in range(m))
    err = " + ".join(f"p{j}_kassign.dist" for j in range(m))
    joins = "p0_kassign" + "".join(
        f" JOIN p{j}_kassign USING (vec_id)" for j in range(1, m))
    return f"""
WITH {ctes}
SELECT vec_id, CAST({code} AS BIGINT) AS code,
       CAST({err} AS BIGINT) AS err
FROM {joins}
"""


def ivfpq_topk_sql(m: int = 8, k_codes: int = 16, n_cells: int = 8,
                   nprobe: int = 2, topk: int = 5, iters: int = 1,
                   scale: int = 1000, dim: int = 64,
                   n_queries: int = 5) -> str:
    """(qid, vec_id, adc, rank) of pq.ivfpq_topk: m per-subspace PQ
    trainings + one coarse k-means training (all prefixed unrolled-Lloyd
    chains), probe = nprobe nearest coarse cells per query, ADC = exact
    int64 squared L2 between the quantized query and the doc's PQ
    RECONSTRUCTION (mathematically identical to the operator's
    per-subspace distance-table lookups, evaluated by an independent
    route)."""
    d = dim // m
    pq_chains = ",\n".join(
        _kmeans_ctes(
            k_codes, iters, scale,
            table=(f"(SELECT vec_id, embedding[{j * d + 1}:{(j + 1) * d}]"
                   " AS sub FROM embeddings)"),
            vec_col="sub", prefix=f"p{j}_")
        for j in range(m))
    cc_chain = _kmeans_ctes(n_cells, iters, scale, prefix="cc_")
    recon_joins = "p0_kassign k0 JOIN p0_c%d b0 ON b0.cid = k0.cluster" \
        % iters
    for j in range(1, m):
        recon_joins += (f" JOIN p{j}_kassign k{j}"
                        f" ON k{j}.vec_id = k0.vec_id"
                        f" JOIN p{j}_c{iters} b{j}"
                        f" ON b{j}.cid = k{j}.cluster")
    flat = "flatten([" + ", ".join(f"b{j}.cv" for j in range(m)) + "])"
    sq = ("CAST(list_sum([({a}[i]-{b}[i])*({a}[i]-{b}[i]) "
          "for i in range(1, len({a})+1)]) AS BIGINT)")
    return f"""
WITH {pq_chains},
{cc_chain},
recon AS (
  SELECT k0.vec_id, {flat} AS rv
  FROM {recon_joins}),
qq AS (
  SELECT vec_id AS qid,
         [CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)
          for x in embedding] AS q
  FROM embeddings WHERE vec_id < {n_queries}),
qcell AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn
  FROM (SELECT qid, cc.cid AS cid,
               {sq.format(a='q', b='cc.cv')} AS d
        FROM qq CROSS JOIN cc_c{iters} cc)),
cand AS (
  SELECT p.qid, a.vec_id
  FROM (SELECT qid, cid FROM qcell WHERE rn <= {nprobe}) p
  JOIN cc_kassign a ON a.cluster = p.cid),
scored AS (
  SELECT c.qid, c.vec_id,
         {sq.format(a='q.q', b='r.rv')} AS adc
  FROM cand c JOIN qq q ON q.qid = c.qid
  JOIN recon r ON r.vec_id = c.vec_id),
rr AS (
  SELECT qid, vec_id, adc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc, vec_id) AS rank
  FROM scored)
SELECT qid, vec_id, adc, CAST(rank AS INTEGER) AS rank
FROM rr WHERE rank <= {topk}
"""


def _bpe_train_ctes(iters: int) -> str:
    """The shared WITH-chain v0..b{i}..v{iters} of the BPE training
    oracle (MATERIALIZED per level — DuckDB inlines multiply-referenced
    CTEs and the chain re-evaluates exponentially otherwise). Consumed
    by bpe_train_sql (merge table) and bpe_apply_sql (re-apply)."""
    ctes = [r"""v0 AS MATERIALIZED (
  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS sym, n FROM (
    SELECT w, count(*) AS n FROM (
      SELECT unnest(string_split_regex(lower(text),
                    '[ \t\r\n\f\x0B]+')) AS w
      FROM documents)
    WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY w))"""]
    for i in range(iters):
        ctes.append(f"""p{i} AS MATERIALIZED (
  SELECT l, r, CAST(sum(n) AS BIGINT) AS c FROM (
    SELECT arr[i] AS l, arr[i + 1] AS r, n FROM (
      SELECT string_split(sym, ' ') AS arr, n,
             unnest(generate_series(1,
                    len(string_split(sym, ' ')) - 1)) AS i
      FROM v{i} WHERE len(string_split(sym, ' ')) >= 2))
  GROUP BY l, r),
b{i} AS MATERIALIZED (SELECT l, r, c FROM p{i}
         ORDER BY c DESC, l ASC, r ASC LIMIT 1),
v{i + 1} AS MATERIALIZED (
  SELECT trim(regexp_replace(replace(
           ' ' || replace(sym, ' ', '  ') || ' ',
           ' ' || (SELECT l FROM b{i}) || '  '
               || (SELECT r FROM b{i}) || ' ',
           ' ' || (SELECT l FROM b{i})
               || (SELECT r FROM b{i}) || ' '),
         ' +', ' ', 'g')) AS sym, n
  FROM v{i})""")
    return ",\n".join(ctes)


def bpe_train_sql(iters: int = 6) -> str:
    """(step, lhs, rhs, merged, pair_count) of bpe.bpe_train over
    `documents`: the full iterative BPE training unrolled as CTEs —
    per step, weighted adjacent-pair counts, the deterministic argmax
    (count DESC, pair ASC), and the double-space-trick rewrite (plain
    string replace = greedy left-to-right non-overlapping on BOTH
    engines). Assumes the corpus supports `iters` merges (a step with
    no pairs would yield scalar-NULL rewrites); the driver query keeps
    iters well under the corpus's merge capacity."""
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, l AS lhs, r AS rhs, l || r AS merged, "
        f"c AS pair_count FROM b{i}"
        for i in range(iters))
    return "WITH " + _bpe_train_ctes(iters) + "\n" + selects


def bpe_apply_sql(iters: int = 6) -> str:
    """(doc_id, bpe_tokens) of bpe.bpe_apply under the merges learned by
    bpe_train(iters): the training CTEs re-learn the merge table, then
    six chained replace steps (scalar subqueries on each b{i}) re-apply
    it to the boundary-marked ('|') char-split text of every document —
    the full train->apply loop as one oracle."""
    parts = [_bpe_train_ctes(iters), r"""a0 AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z]+', '|', 'g'), '(.)', '\1 ', 'g')) AS sym
  FROM documents)"""]
    for i in range(iters):
        parts.append(f"""a{i + 1} AS MATERIALIZED (
  SELECT doc_id, trim(regexp_replace(replace(
           ' ' || replace(sym, ' ', '  ') || ' ',
           ' ' || (SELECT l FROM b{i}) || '  '
               || (SELECT r FROM b{i}) || ' ',
           ' ' || (SELECT l FROM b{i})
               || (SELECT r FROM b{i}) || ' '),
         ' +', ' ', 'g')) AS sym
  FROM a{i})""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT doc_id,
       CAST((CASE WHEN length(sym) = 0 THEN 0
             ELSE len(string_split(sym, ' ')) END)
            - (len(string_split(sym, '|')) - 1) AS BIGINT) AS bpe_tokens
FROM a{iters}""")


def label_propagation_sql(iters: int = 3) -> str:
    """(user_id, label) of graph.label_propagation over
    graph.transition_edges(events): synchronous LPA with every round
    unrolled as CTEs. Argmax = min([-count, label]) list compare —
    the same lexicographic trick as the kmeans oracle."""
    ctes = ["""e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type
                               ORDER BY event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL AND dst <> src),
und AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM e
    UNION ALL SELECT dst AS u, src AS v FROM e)
  WHERE u <> v),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""c{i} AS (
  SELECT und.u AS node, l.label, CAST(count(*) AS BIGINT) AS c
  FROM und JOIN l{i - 1} l ON l.node = und.v
  GROUP BY 1, 2),
b{i} AS (SELECT node, min([-c, label])[2] AS new_label
         FROM c{i} GROUP BY 1),
l{i} AS (SELECT l.node, coalesce(b.new_label, l.label) AS label
         FROM l{i - 1} l LEFT JOIN b{i} b USING (node))""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node AS user_id, CAST(label AS BIGINT) AS label"
              f" FROM l{iters}")


def verified_pairs_sql(min_len: int = 20, num_hashes: int = 64,
                       bands: int = 16, shingle_n: int = 5,
                       est_threshold: float = 0.35,
                       exact_threshold: float = 0.5,
                       max_bucket: int | None = 10_000,
                       anchored: bool = False) -> str:
    """(id_a, id_b, est_sim, jaccard) of dedup.verified_neardup_pairs:
    the shared minhash CTE chain generates candidates at the loose
    estimated threshold; TRUE Jaccard over the same portable gram sets
    (the `grams` CTE) verifies. int/int division is double in both
    engines. `anchored`: sampled-linear candidate join + anchor-touching
    expansion (both scores symmetric)."""
    collapse, rep_table = _collapse_sql(min_len)
    arep = f",\n{AREP_CTE}" if anchored else ""
    return f"""
WITH {collapse}{arep},
{_minhash_pairs_ctes(min_len, num_hashes, bands, shingle_n,
                     max_bucket, table=rep_table,
                     anchor_rel="arep" if anchored else None)},
cand2 AS (
  SELECT id_a, id_b, sim FROM pairs
  WHERE sim >= CAST({est_threshold} AS DOUBLE)),
v AS (
  SELECT id_a, id_b, sim,
         len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS inter,
         len(ga.g) AS na, len(gb.g) AS nb
  FROM cand2 JOIN grams ga ON ga.doc_id = cand2.id_a
             JOIN grams gb ON gb.doc_id = cand2.id_b),
vp AS (
  SELECT id_a, id_b, round(sim, 4) AS est_sim,
         round(inter / (na + nb - inter), 4) AS jaccard
  FROM v
  WHERE inter / (na + nb - inter) >= CAST({exact_threshold} AS DOUBLE))
{_expand_sql('vp', 'est_sim, jaccard',
             'round(1.0, 4) AS est_sim, round(1.0, 4) AS jaccard',
             anchored=anchored)}
"""


# ------------------------------------------------------ DSIR weighting ----

def _dsir_ctes(target_pred: str, buckets: int, quant: int) -> str:
    """Shared CTE chain for the DSIR oracles: hashed word-bigram buckets
    (operators/dsir.py — same raw-split adjacency, same TERM_RE on both
    words, same 48-bit md5-prefix bucket hash), add-one-smoothed bucket
    models, fixed-point log-ratio table, per-doc integer sums. `src` is
    MATERIALIZED: it is referenced twice (source counts + scoring) and
    DuckDB inlines multiply-referenced CTEs (CLAUDE.md)."""
    ws = r"'[ \t\r\n\f\x0B]+'"

    def gram_stream(src_rel: str) -> str:
        return f"""
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
  FROM (SELECT doc_id,
               string_split_regex(lower(text), {ws}) AS w
        FROM {src_rel}) t,
       LATERAL (SELECT unnest(range(1, len(w))) AS i) ix
  WHERE len(w) >= 2
    AND regexp_full_match(w[i], '[a-z]{{2,}}')
    AND regexp_full_match(w[i + 1], '[a-z]{{2,}}')"""

    bucket = ("CAST(concat('0x', substring(md5(gram), 1, 12)) AS BIGINT) "
              f"% {buckets}")
    return f"""src AS MATERIALIZED (
  SELECT doc_id, {bucket} AS bucket FROM ({gram_stream('documents')})),
tgtg AS (
  SELECT doc_id, {bucket} AS bucket
  FROM ({gram_stream(f'(SELECT * FROM documents WHERE {target_pred})')})),
sb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS s FROM src GROUP BY 1),
tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t FROM tgtg GROUP BY 1),
stot AS (SELECT CAST(sum(s) AS BIGINT) AS stotal FROM sb),
ttot AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS ttotal FROM tb),
lr AS (
  SELECT sb.bucket,
         CAST(floor(CAST({quant} AS DOUBLE)
                    * (ln(CAST(coalesce(t, 0) + 1 AS DOUBLE)
                          / (CAST(ttotal AS DOUBLE) + CAST({buckets} AS DOUBLE)))
                       - ln(CAST(s + 1 AS DOUBLE)
                            / (CAST(stotal AS DOUBLE) + CAST({buckets} AS DOUBLE)))))
              AS BIGINT) AS lr
  FROM sb LEFT JOIN tb USING (bucket) CROSS JOIN stot CROSS JOIN ttot),
wagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lr) AS BIGINT) AS sfp
  FROM src JOIN lr USING (bucket) GROUP BY 1)"""


def dsir_weights_sql(target_pred: str = "lang = 'en'",
                     buckets: int = 4096, quant: int = 10**6) -> str:
    """(doc_id, n_bigrams, logw) of dsir.dsir_logweights with the target
    model fit on `target_pred` documents."""
    return f"""
WITH {_dsir_ctes(target_pred, buckets, quant)}
SELECT doc_id, n_bigrams,
       round(CAST(sfp AS DOUBLE) / CAST({quant} AS DOUBLE), 6) AS logw
FROM wagg
"""


def dsir_topk_sql(k: int, target_pred: str = "lang = 'en'",
                  buckets: int = 4096, quant: int = 10**6) -> str:
    """(doc_id, n_bigrams, logw, rank) of dsir.dsir_topk."""
    return f"""
WITH {_dsir_ctes(target_pred, buckets, quant)},
ranked AS (
  SELECT doc_id, n_bigrams,
         round(CAST(sfp AS DOUBLE) / CAST({quant} AS DOUBLE), 6) AS logw,
         CAST(row_number() OVER (
             ORDER BY round(CAST(sfp AS DOUBLE) / CAST({quant} AS DOUBLE), 6)
                 DESC, doc_id) AS INT) AS rank
  FROM wagg)
SELECT doc_id, n_bigrams, logw, rank FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------- cross-doc substring dedup ----

def _xdoc_gram_ctes(gram_len: int) -> str:
    """Shared gram-fingerprint stream for the cross-doc substring
    oracles (operators/dedup.py::cross_doc_grams) — same trim/lower
    whitespace split, same inclusive token windows (DuckDB list slice
    w[i : i+g-1] == Spark slice(w, i, g)), same 48-bit md5-prefix
    fingerprint. MATERIALIZED: the per-doc oracle references it three
    times and DuckDB inlines multiply-referenced CTEs (CLAUDE.md)."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""grams AS MATERIALIZED (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(
             array_to_string(w[i : i + {gram_len} - 1], ' ')), 1, 12))
           AS BIGINT) AS gram_hash
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w) - {gram_len} + 2)) AS i) ix
  WHERE len(w) >= {gram_len})"""


def cross_doc_grams_sql(gram_len: int = 8, min_docs: int = 2) -> str:
    """(gram_hash, n_docs, n_occurrences, sample_doc) of
    dedup.cross_doc_grams."""
    return f"""
WITH {_xdoc_gram_ctes(gram_len)}
SELECT gram_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(doc_id) AS BIGINT) AS sample_doc
FROM grams GROUP BY 1
HAVING count(DISTINCT doc_id) >= {min_docs}
"""


def doc_duplication_sql(gram_len: int = 8, min_docs: int = 2) -> str:
    """(doc_id, n_grams, n_dup_grams, dup_ppm) of
    dedup.doc_duplication_stats. Integer // division matches Spark's
    DIV (double casts round vs truncate differently, CLAUDE.md)."""
    return f"""
WITH {_xdoc_gram_ctes(gram_len)},
dup AS (SELECT gram_hash FROM grams GROUP BY 1
        HAVING count(DISTINCT doc_id) >= {min_docs}),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY 1),
fl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
       FROM grams JOIN dup USING (gram_hash) GROUP BY 1)
SELECT doc_id, n_grams,
       coalesce(n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
       CAST((coalesce(n_dup_grams, 0) * 1000000) // n_grams AS BIGINT)
         AS dup_ppm
FROM tot LEFT JOIN fl USING (doc_id)
"""


def longest_dup_run_sql(gram_len: int = 8, min_docs: int = 2) -> str:
    """(doc_id, n_grams, longest_run, longest_dup_tokens) of
    dedup.longest_dup_run — same gram stream as the cross-doc oracles
    but carrying the window position, duplicated set by distinct-doc
    count, run length by the same gaps-and-islands rewrite (pos minus
    per-doc row_number is constant within a consecutive run)."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""
WITH grams AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substring(md5(
             array_to_string(w[i : i + {gram_len} - 1], ' ')), 1, 12))
           AS BIGINT) AS h
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w) - {gram_len} + 2)) AS i) ix
  WHERE len(w) >= {gram_len}),
dup AS (SELECT h FROM grams GROUP BY 1
        HAVING count(DISTINCT doc_id) >= {min_docs}),
marked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM grams JOIN dup USING (h)),
runs AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS longest_run
  FROM (SELECT doc_id, pos - rn AS isl, count(*) AS cnt
        FROM marked GROUP BY doc_id, isl)
  GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY 1)
SELECT doc_id, n_grams,
       coalesce(longest_run, CAST(0 AS BIGINT)) AS longest_run,
       CAST(CASE WHEN coalesce(longest_run, 0) > 0
                 THEN longest_run + {gram_len - 1} ELSE 0 END AS BIGINT)
         AS longest_dup_tokens
FROM tot LEFT JOIN runs USING (doc_id)
"""


def paragraph_dedup_sql(para_tokens: int = 10, min_dup: int = 2) -> str:
    """(doc_id, n_paras, n_dropped, clean_chars, clean_md5) of
    dedup.paragraph_dedup in token-window mode: same trim+lower
    whitespace split, fixed `para_tokens`-token windows (DuckDB 1-based
    inclusive list slice truncates past the end exactly like Spark
    slice), same 48-bit md5-prefix fingerprint, same >= min_dup
    corpus-count drop rule, kept paragraphs rejoined in order with a
    single space. string_agg skips the NULLed dup paragraphs (Spark's
    collect_list skips the CASE NULLs); coalesce('') makes the
    all-dropped doc hash md5('') in both engines. Sums CAST to BIGINT
    (DuckDB HUGEINT → float64 via pandas, CLAUDE.md)."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    p = para_tokens
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), {ws}) AS t
  FROM documents
), fps AS MATERIALIZED (
  SELECT doc_id, i,
         array_to_string(t[i*{p} + 1 : i*{p} + {p}], ' ') AS para,
         CAST(concat('0x', substring(md5(
             array_to_string(t[i*{p} + 1 : i*{p} + {p}], ' ')), 1, 12))
           AS BIGINT) AS fp
  FROM toks,
       LATERAL (SELECT unnest(range(0,
           CAST((len(t) + {p - 1}) // {p} AS BIGINT))) AS i) ix
), counts AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN c >= {min_dup} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(len(coalesce(string_agg(
           CASE WHEN c < {min_dup} THEN para END, ' ' ORDER BY i), ''))
         AS BIGINT) AS clean_chars,
       md5(coalesce(string_agg(
           CASE WHEN c < {min_dup} THEN para END, ' ' ORDER BY i), ''))
         AS clean_md5
FROM fps JOIN counts USING (fp)
GROUP BY doc_id
"""


# ----------------------------------------------------- char entropy ----

def char_entropy_sql(quant: int = 10**6) -> str:
    """(doc_id, n_counted, entropy) of textstats.char_entropy — same
    raw-codepoint character stream (DuckDB character indexing t[i] ==
    Spark substring(t, i, 1)), same fixed-point cnt·floor(q·ln(cnt))
    integer contributions, same two final double ops."""
    return f"""
WITH ch AS (
  SELECT doc_id, t[i] AS ch
  FROM (SELECT doc_id, text AS t FROM documents
        WHERE text IS NOT NULL AND length(text) > 0) x,
       LATERAL (SELECT unnest(range(1, length(t) + 1)) AS i) ix),
cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM ch GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_counted,
         CAST(sum(c * CAST(floor(CAST({quant} AS DOUBLE)
                                 * ln(CAST(c AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS s
  FROM cnt GROUP BY 1)
SELECT doc_id, n_counted,
       round(ln(CAST(n_counted AS DOUBLE))
             - CAST(s AS DOUBLE)
               / (CAST({quant} AS DOUBLE) * n_counted), 6) AS entropy
FROM agg
"""


def source_drift_sql(group_col: str = "source", buckets: int = 4096,
                     quant: int = 10**6) -> str:
    """(group, n_bigrams, drift) of dsir.source_drift — the smoothed-KL
    fixed-point estimator over the same hashed-bigram buckets; the sum
    runs over every (group, corpus-bucket) cell (missing group counts
    are 0), mirroring the operator's corpus-table cross."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""
WITH grams AS MATERIALIZED (
  SELECT {group_col} AS grp,
         CAST(concat('0x', substring(md5(w[i] || ' ' || w[i + 1]), 1, 12))
           AS BIGINT) % {buckets} AS bucket
  FROM (SELECT {group_col},
               string_split_regex(lower(text), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w))) AS i) ix
  WHERE len(w) >= 2
    AND regexp_full_match(w[i], '[a-z]{{2,}}')
    AND regexp_full_match(w[i + 1], '[a-z]{{2,}}')),
gb AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS g
       FROM grams GROUP BY 1, 2),
cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1),
ctot AS (SELECT CAST(sum(c) AS BIGINT) AS ctotal FROM cb),
gtot AS (SELECT grp, CAST(sum(g) AS BIGINT) AS gtotal FROM gb GROUP BY 1),
cells AS (
  SELECT gtot.grp, gtot.gtotal, cb.bucket, cb.c, ctot.ctotal,
         coalesce(gb.g, 0) AS g
  FROM gtot CROSS JOIN cb CROSS JOIN ctot
  LEFT JOIN gb ON gb.grp = gtot.grp AND gb.bucket = cb.bucket),
agg AS (
  SELECT grp, gtotal,
         CAST(sum((g + 1) * CAST(floor(CAST({quant} AS DOUBLE)
             * (ln(CAST(g + 1 AS DOUBLE)
                   / (CAST(gtotal AS DOUBLE) + CAST({buckets} AS DOUBLE)))
                - ln(CAST(c + 1 AS DOUBLE)
                     / (CAST(ctotal AS DOUBLE) + CAST({buckets} AS DOUBLE)))))
           AS BIGINT)) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2)
SELECT grp AS {group_col}, gtotal AS n_bigrams,
       round(CAST(s AS DOUBLE)
             / (CAST({quant} AS DOUBLE)
                * (CAST(gtotal AS DOUBLE) + CAST({buckets} AS DOUBLE))), 6) AS drift
FROM agg
"""


def bigram_logppl_sql(lam: float = 0.7, quant: int = 10**6) -> str:
    """(doc_id, n_bigrams, logppl) of perplexity.bigram_logppl — same
    raw-adjacent pair identity, same Jelinek-Mercer mixture with the
    identical double expression tree (float literals CAST — DuckDB
    parses bare ones as DECIMAL), same per-row fixed-point floor."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""
WITH pairs AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS term
  FROM (SELECT doc_id, string_split_regex(lower(text), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w))) AS i) ix
  WHERE len(w) >= 2
    AND regexp_full_match(w[i], '[a-z]{{2,}}')
    AND regexp_full_match(w[i + 1], '[a-z]{{2,}}')),
btf AS MATERIALIZED (
  SELECT doc_id, prev, term, CAST(count(*) AS BIGINT) AS tf
  FROM pairs GROUP BY 1, 2, 3),
blm AS (SELECT prev, term, CAST(sum(tf) AS BIGINT) AS bcnt
        FROM btf GROUP BY 1, 2),
ctx AS (SELECT prev, CAST(sum(bcnt) AS BIGINT) AS ccnt FROM blm GROUP BY 1),
toks AS (
  SELECT unnest(string_split_regex(lower(text), {ws})) AS term
  FROM documents),
ulm AS (SELECT term, CAST(count(*) AS BIGINT) AS ucnt FROM toks
        WHERE regexp_full_match(term, '[a-z]{{2,}}') GROUP BY 1),
utot AS (SELECT CAST(sum(ucnt) AS BIGINT) AS utotal,
                CAST(count(*) AS BIGINT) AS vsize FROM ulm),
contrib AS (
  SELECT doc_id, tf,
         tf * CAST(floor(CAST({quant} AS DOUBLE) * ln(
             CAST({lam} AS DOUBLE)
             * (CAST(bcnt + 1 AS DOUBLE)
                / (CAST(ccnt AS DOUBLE) + CAST(vsize AS DOUBLE)))
             + CAST({1.0 - lam} AS DOUBLE)
             * (CAST(ucnt + 1 AS DOUBLE)
                / (CAST(utotal AS DOUBLE) + CAST(vsize AS DOUBLE)))))
           AS BIGINT) AS c
  FROM btf JOIN blm USING (prev, term)
           JOIN ctx USING (prev)
           JOIN ulm USING (term)
           CROSS JOIN utot),
agg AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         CAST(sum(c) AS BIGINT) AS s
  FROM contrib GROUP BY 1)
SELECT doc_id, n_bigrams,
       round(-(CAST(s AS DOUBLE)
               / (CAST({quant} AS DOUBLE) * n_bigrams)), 6) AS logppl
FROM agg
"""


def assign_splits_sql(fracs: dict[str, float] | None = None,
                      salt: int = 0) -> str:
    """(doc_id, split) of sampling.assign_splits over documents — the
    same affine portable hash and cumulative interval boundaries."""
    mod = 2_147_483_648
    mult = 2_654_435_761
    fracs = fracs or {"train": 0.9, "val": 0.05, "test": 0.05}
    off = (salt * 0x9E3779B1) % mod
    names = list(fracs)
    cum = 0.0
    whens = []
    for name in names[:-1]:
        cum += fracs[name]
        whens.append(f"WHEN h < {int(cum * mod)} THEN '{name}'")
    return f"""
WITH h AS (
  SELECT doc_id,
         ((doc_id % {mod}) * {mult} + {off}) % {mod} AS h
  FROM documents)
SELECT doc_id, CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
FROM h
"""


def winnow_sql(gram_len: int = 5, window: int = 4) -> str:
    """(doc_id, fp, pos) of dedup.winnow_fingerprints — same token
    windows and 48-bit fingerprints as the cross-doc oracles, same
    40-bit reduction + position packing, the sliding minimum expressed
    with a native window frame (an independent formulation of the same
    selection)."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substring(md5(
             array_to_string(w[i : i + {gram_len} - 1], ' ')), 1, 12))
           AS BIGINT) AS h
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w) - {gram_len} + 2)) AS i) ix
  WHERE len(w) >= {gram_len}),
keyed AS (
  SELECT doc_id, pos,
         (h % {1 << 40}) * {1 << 16} + (pos % {1 << 16}) AS key,
         count(*) OVER (PARTITION BY doc_id) AS m
  FROM grams),
sel AS (
  SELECT DISTINCT doc_id,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {window - 1} FOLLOWING) AS s
  FROM keyed
  QUALIFY pos <= m - {window} + 1)
SELECT doc_id, CAST(s // {1 << 16} AS BIGINT) AS fp,
       CAST(s % {1 << 16} AS INT) AS pos
FROM sel
"""


# ------------------------------------------------ JL random projection ----

def rp_project_sql(dim: int = 64, r: int = 16, scale_bits: int = 20) -> str:
    """(vec_id, comp, val_fp, val) of projection.rp_project — the
    Achlioptas ±1 sign regenerated from the hash spec per (comp, index)
    pair, each term floor-quantized to exact int64 BEFORE the sum
    (order-free), val divided back out by the power of two (exact).
    SUM over BIGINT is HUGEINT in DuckDB — cast back (CLAUDE.md)."""
    scale = 1 << scale_bits
    sign = ("(CASE WHEN ((((c.j * {d} + i.i) % 2147483648) * 2654435761"
            " + 12345) % 2147483648 >> 15) & 1 = 1"
            " THEN 1 ELSE -1 END)").format(d=dim)
    return f"""
WITH comp AS (SELECT unnest(range(0, {r})) AS j),
ix AS (SELECT unnest(range(0, {dim})) AS i),
terms AS (
  SELECT e.vec_id, c.j AS comp,
         CAST(floor(CAST(e.embedding[i.i + 1] AS DOUBLE)
                    * {sign} * {scale}.0) AS BIGINT) AS t
  FROM embeddings e CROSS JOIN comp c CROSS JOIN ix i
)
SELECT vec_id, CAST(comp AS BIGINT) AS comp,
       CAST(sum(t) AS BIGINT) AS val_fp,
       CAST(sum(t) AS BIGINT) / {scale}.0 AS val
FROM terms GROUP BY 1, 2
"""


# ------------------------------------------------------- zipf rank-freq ----

def vocab_zipf_sql(top_k: int = 4096) -> str:
    """(token, rank, freq, zipf_c, cum_ppm) of textstats.vocab_zipf —
    same trim/lower whitespace split, (freq DESC, token ASC) total
    order, exact-integer zipf constant and integer-// coverage."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), {ws})) AS token
  FROM documents WHERE text IS NOT NULL
),
freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq
  FROM toks WHERE token <> '' GROUP BY 1
),
ranked AS (
  SELECT token, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
              AS BIGINT) AS rank,
         CAST(sum(freq) OVER (ORDER BY freq DESC, token ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(freq) OVER () AS BIGINT) AS tot
  FROM freq
)
SELECT token, rank, freq, CAST(rank * freq AS BIGINT) AS zipf_c,
       CAST((cum * 1000000) // tot AS BIGINT) AS cum_ppm
FROM ranked WHERE rank <= {top_k}
"""


# -------------------------------------------------- cross-source overlap ---

def source_overlap_sql(gram_len: int = 8,
                       max_sources: int | None = None) -> str:
    """(source_a, source_b, inter_grams, union_grams, jaccard_ppm) of
    dedup.source_overlap — same gram window/fingerprint spec as the
    cross-doc oracles but keyed by source, distinct per-source sets,
    fingerprint-keyed pair join, exact-integer Jaccard ppm."""
    ws = r"'[ \t\r\n\f\x0B]+'"
    cap = ""
    if max_sources is not None:
        cap = f"""
capped AS (SELECT gram_hash FROM grams GROUP BY 1
           HAVING count(*) <= {max_sources}),
grams2 AS (SELECT g.* FROM grams g JOIN capped USING (gram_hash)),"""
    rel = "grams2" if max_sources is not None else "grams"
    return f"""
WITH grams AS MATERIALIZED (
  SELECT DISTINCT source AS _src,
         CAST(concat('0x', substring(md5(
             array_to_string(w[i : i + {gram_len} - 1], ' ')), 1, 12))
           AS BIGINT) AS gram_hash
  FROM (SELECT source,
               string_split_regex(trim(lower(text)), {ws}) AS w
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(w) - {gram_len} + 2)) AS i) ix
  WHERE len(w) >= {gram_len}),{cap}
sizes AS (SELECT _src, CAST(count(*) AS BIGINT) AS _n
          FROM {rel} GROUP BY 1),
inter AS (
  SELECT a._src AS source_a, b._src AS source_b,
         CAST(count(*) AS BIGINT) AS inter_grams
  FROM {rel} a JOIN {rel} b
    ON a.gram_hash = b.gram_hash AND a._src < b._src
  GROUP BY 1, 2
)
SELECT source_a, source_b, inter_grams,
       sa._n + sb._n - inter_grams AS union_grams,
       CAST((inter_grams * 1000000) // (sa._n + sb._n - inter_grams)
            AS BIGINT) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa._src = inter.source_a
JOIN sizes sb ON sb._src = inter.source_b
"""
