"""Scale-path near-duplicate detection + bucketed ANN (SURVEY §7 M5).

These are the 100 TB variants of the exact algorithms in
:mod:`pyspark_cdc_engine.operators.text` / ``.vectors``:

- **MinHash + LSH**: shingle → K minhash signatures → band hashes → bucket
  equi-join for candidates → exact-Jaccard verify on candidates only. The
  candidate join shuffles (band_id, band_hash, doc_id) — constant bytes per
  doc — instead of the full shingle set, which is what makes it viable when
  ``jaccard_near_dup_pairs``'s shingle self-join would explode.
- **SimHash**: 32-bit fingerprint from token-hash bit votes; near-dup via
  half-fingerprint banding + Hamming-distance verify.
- **Embedding cosine near-dup**: all-pairs above a similarity threshold.
- **IVF-bucketed ANN**: assign vectors to nearest-of-C centroids, then search
  only the query's bucket — the N/C scan that replaces brute force.

Portability tricks that make every one of these DuckDB-oracle-able: all hash
families derive from ``md5`` (identical hex output in both engines), minhash
"permutations" are universal hashes over an md5-derived 32-bit int, float
accumulation that REACHES the output is DECIMAL (order-independent), and dots
that only feed an argmax/bucketing decision use a fixed-point int64 sum
(floor-scaled IEEE products — deterministic and ~5x cheaper). Spark and DuckDB
therefore produce bit-identical rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_cdc_engine.checkpointing import materialize, materialize_async
from pyspark_cdc_engine.config import get_config
from pyspark_cdc_engine.operators.registry import (
    fan_out,
    load_table,
    register,
    table_row_count,
)
from pyspark_cdc_engine.operators.vectors import _DEC, _norm2_dec

# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_SHINGLE_W = 8   # words per shingle (matches jaccard_near_dup_pairs)
_MH_K = 16       # minhash signature length
_LSH_R = 4       # rows per band
_LSH_B = _MH_K // _LSH_R  # 4 bands; P(candidate) = 1-(1-J^4)^4 ≈ 1 at J≥0.9
_MH_TAU = 0.8    # verified-Jaccard output threshold


def _shingle_expr_spark(w: int) -> str:
    """Word-shingle array expr. Guarded for docs SHORTER than ``w`` words:
    Spark's ``sequence(1, 0)`` yields the DESCENDING array [1, 0] (not
    empty!), and ``slice(arr, 0, w)`` then throws — so the short-doc case
    returns an explicit empty array (matching DuckDB's ``range``, which IS
    empty there)."""
    n = f"size(split(text, ' '))"
    return (
        f"CASE WHEN {n} >= {w} THEN "
        f"transform(sequence(1, {n} - {w} + 1),"
        f" i -> concat_ws(' ', slice(split(text, ' '), i, {w}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


_SHINGLE_CTE_DUCK = f"""
    shingled AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), UNNEST(range(1, len(w) - {_SHINGLE_W} + 2)) AS t(i),
      LATERAL (SELECT array_to_string(list_slice(w, i, i + {_SHINGLE_W} - 1), ' ') AS sh)
    ),
    sets AS (SELECT DISTINCT doc_id, sh FROM shingled)
"""

_MH_P = 4294967311  # prime just above 2^32: (a*h32 + b) % P is a universal hash
_MH_A = [1000003 + 37 * k for k in range(_MH_K)]
_MH_B = [911382323 + 101 * k for k in range(_MH_K)]

_SIG_COLS_DUCK = ", ".join(
    f"MIN(({_MH_A[k]} * h32 + {_MH_B[k]}) % {_MH_P}) AS s{k}" for k in range(_MH_K)
)
_PIPE_JOIN = " || '|' || "
_BAND_ROWS_DUCK = ", ".join(
    "({b}, {cols})".format(
        b=b,
        cols=_PIPE_JOIN.join(f"CAST(s{b * _LSH_R + r} AS VARCHAR)" for r in range(_LSH_R)),
    )
    for b in range(_LSH_B)
)


# CTE chain shared by the minhash pair oracle and the LSH cluster oracle
_MH_CTES_DUCK = f"""{_SHINGLE_CTE_DUCK},
    hsets AS (
      SELECT DISTINCT doc_id, substr(md5(sh), 1, 15) AS shh FROM sets
    ),
    sigs AS (
      SELECT doc_id, {_SIG_COLS_DUCK}, list(DISTINCT shh) AS shs
      FROM (SELECT doc_id, shh, ('0x' || substr(shh, 1, 8))::BIGINT AS h32 FROM hsets)
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, shs, band_id, band_hash
      FROM sigs, (VALUES {_BAND_ROWS_DUCK}) AS v(band_id, band_hash)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.shs) AS sa, ANY_VALUE(b.shs) AS sb
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    mh_pairs AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
      FROM cand
      WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
              / (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= {_MH_TAU}
    )"""


@register(
    "minhash_lsh_near_dup",
    survey="M5-dedup,A2,J5",
    oracle=f"""
    WITH {_MH_CTES_DUCK}
    SELECT doc_a, doc_b, jaccard FROM mh_pairs
    """,
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. Shingles are hashed to 15-hex-char ids up
    front, so the dedup shuffle and every downstream join move 15-byte keys
    instead of ~60-char shingle strings (hash collisions merge shingles
    identically in both engines — the oracle hashes the same way, so parity
    is exact). The K minhash "permutations" are universal hashes
    ``(a_k * h32 + b_k) mod P`` over ONE md5 per shingle — K multiply-mods
    replace the K md5 calls of the naive form.

    Two physically different plans, identical results, gated on corpus size
    (``CDC_MH_REJOIN_DOCS``, default 50k):

    - **small corpus (single-pass)**: each doc's shingle-hash set rides
      through the signature agg and the band self-join, so candidates verify
      by array intersection with no second pass. Cheapest when hot band
      buckets are tiny.
    - **large corpus (id-only band join + candidate re-join)**: the band
      explode and self-join carry ONLY (doc_id, band_id, band_hash) —
      constant ~30 bytes/row — so a hot band bucket materializes candidate
      pairs of bounded width instead of pairs each dragging two full shingle
      arrays. Deduped candidates semi-join back to the shingle-hash table,
      arrays are aggregated for candidate docs only, and exact Jaccard
      verifies via two id-keyed joins. One extra (small, candidate-side)
      shuffle buys bounded row width through the skew-prone stage — the
      100 TB trade."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")  # footer-only, no scan
    return _minhash_lsh(d, rejoin=n_docs > _mh_rejoin_docs(), n_docs=n_docs)


def _mh_rejoin_docs() -> int:
    """Above this many docs the band self-join switches to the id-only +
    candidate-re-join plan (bounded row width through hot band buckets).
    Config ``engine.minhash-rejoin-docs`` (env CDC_MH_REJOIN_DOCS)."""
    return get_config().get_int("engine.minhash-rejoin-docs")


def _materialize_docs() -> int:
    """Above this many docs, frames consumed by multiple downstream operators
    (shingle sets, signature tables, fingerprints) are materialized so each
    corpus pass runs ONCE. Below it, letting Spark recompute inside one job is
    faster — the duplicate work overlaps on idle cores, while an eager
    checkpoint serializes two jobs. Config ``engine.materialize-docs``
    (env CDC_MATERIALIZE_DOCS)."""
    return get_config().get_int("engine.materialize-docs")


def _maybe_materialize(df: DataFrame, n_docs: int) -> DataFrame:
    """See :func:`_materialize_docs`; routes through
    :func:`pyspark_cdc_engine.checkpointing.materialize`, so configuring
    ``engine.checkpoint-dir`` upgrades these cuts to reliable checkpoints
    (localCheckpoint dies with an executor on a real cluster)."""
    if n_docs <= _materialize_docs():
        return df
    return materialize(df)



# --------------------------------------------------------------------------
# Shared MinHash/LSH building blocks — the ONE definition of the shingle→
# signature→band pipeline. `_minhash_lsh` (the registered batch query) and
# `operators.dedup_incremental.IncrementalLshIndex` (the change-feed-
# maintained index) both build from these, so the incremental index's
# row-identical-to-full-recompute contract can never drift.


def minhash_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shh): distinct 15-hex shingle hashes per document (one md5
    per shingle; 15-byte keys through every downstream shuffle).
    ``fan_out`` spreads the ×(words/doc) shingle+md5 explode across cores
    when the corpus scan is a single split (r13, guide §2.5)."""
    return (
        fan_out(docs).select(
            "doc_id", F.explode(F.expr(_shingle_expr_spark(_SHINGLE_W))).alias("sh")
        )
        .select("doc_id", F.expr("substr(md5(CAST(sh AS BINARY)), 1, 15)").alias("shh"))
        .distinct()
    )


def minhash_signatures_from_sets(sets: DataFrame) -> DataFrame:
    """(doc_id, s0..s{K-1}) from a prebuilt (doc_id, shh) set table."""
    hashed = sets.withColumn(
        "h32", F.expr("CAST(conv(substr(shh, 1, 8), 16, 10) AS BIGINT)")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({_MH_A[k]} * h32 + {_MH_B[k]}) % {_MH_P}")).alias(f"s{k}")
            for k in range(_MH_K)
        ]
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, s0..s{K-1}): K universal-hash minima over each doc's shingle
    hashes. Pure map + one hash aggregate on doc_id."""
    return minhash_signatures_from_sets(minhash_shingle_sets(docs))


_BAND_STRUCTS_EXPR = "array(" + ", ".join(
    f"named_struct('band_id', {b}, 'band_hash', "
    f"CONCAT_WS('|', {', '.join(f's{b * _LSH_R + r}' for r in range(_LSH_R))}))"
    for b in range(_LSH_B)
) + ")"


def lsh_band_table(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): the banded signature — ``_LSH_B`` rows
    per doc, each hashing ``_LSH_R`` signature slots. This IS the index."""
    return sigs.select(
        "doc_id", F.explode(F.expr(_BAND_STRUCTS_EXPR)).alias("bd")
    ).select("doc_id", "bd.band_id", "bd.band_hash")


def verified_pairs_from_bands(
    bands: DataFrame,
    docs: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
    metric: str = "jaccard",
    tau: float | None = None,
) -> DataFrame:
    """Near-dup pairs from a band table: id-only band self-join (bounded
    ~30 B/row through hot buckets — the 100 TB plan shape), then exact
    verification via two id-keyed joins against shingle sets built for
    CANDIDATE docs only. Pass ``shingle_sets`` to reuse a (possibly
    materialized) (doc_id, shh) table; else ``docs`` is re-shingled after the
    candidate semi-join.

    ``metric``: "jaccard" (|∩|/|∪|, default, threshold ``_MH_TAU``) or
    "containment" (|∩|/min(|A|,|B|) — the asymmetric subset-duplication
    signal; candidates still come from Jaccard-tuned banding, so a SHORT doc
    quoted inside a much longer one can miss candidacy: containment-over-LSH
    trades that recall for the bounded band join, the standard trade at
    scale). The verification itself is exact on whatever candidates band."""
    widths = _candidate_widths_from_bands(bands, docs, shingle_sets)
    if metric == "containment":
        score = F.col("i").cast("double") / F.least("na", "nb")
    else:
        score = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    thresh = _MH_TAU if tau is None else tau
    return widths.select("doc_a", "doc_b", score.alias(metric)).filter(
        F.col(metric) >= thresh
    )


def _band_candidate_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b): the deduped band-collision candidate pairs — the raw
    id-only band self-join, UNmaterialized (the plan-gate test asserts the
    no-arrays-through-band-buckets invariant on this frame's plan)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _candidate_widths_from_bands(
    bands: DataFrame,
    docs: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """The candidate + exact-set-width kernel behind
    :func:`verified_pairs_from_bands`: (doc_a, doc_b, i, na, nb) for every
    banded candidate pair — |∩| and both set sizes, before any metric is
    applied. Split out so consumers that need the raw widths (the
    cross-source census sums i and |∪| exactly) share the identical
    candidate set, semi-join, and intersection arithmetic instead of
    re-deriving the pipeline."""
    # cand is consumed twice (the candidate-ids semi-join AND the width
    # join) and its lineage holds the band SELF-join — i.e. two executions
    # of the whole shingle→signature→band pipeline per consumer.
    # Materialize the candidate-pair frame: it is small by construction
    # (band-colliding pairs only — the same bound the whole LSH design
    # rests on), and caching it caps the band pipeline at one execution
    # regardless of consumer count (r12, guide §2.4). The id-only band-join
    # invariant (no arrays through the hot band buckets) is asserted by
    # tests/test_plans.py against :func:`_band_candidate_pairs`' plan — the
    # eager cut hides it from the final query plan.
    cand = materialize(_band_candidate_pairs(bands))
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if shingle_sets is not None:
        sets = shingle_sets.join(cand_ids, "doc_id", "left_semi")
    else:
        sets = minhash_shingle_sets(docs.join(cand_ids, "doc_id", "left_semi"))
    shs_tbl = sets.groupBy("doc_id").agg(F.collect_set("shh").alias("shs"))
    pairs = cand.join(
        shs_tbl.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa")),
        "doc_a",
    ).join(
        shs_tbl.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb")),
        "doc_b",
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.expr("size(array_intersect(sa, sb))").alias("i"),
        F.size("sa").alias("na"),
        F.size("sb").alias("nb"),
    )


def lsh_verified_pairs(
    d: DataFrame, n_docs: int, metric: str = "jaccard", tau: float | None = None
) -> DataFrame:
    """The full shingle→signature→band→verify pipeline as one call — the
    candidate generator graph/curation consumers degrade to when the corpus
    exceeds the exact-all-pairs guard (``engine.pair-source`` auto/lsh).
    Always the id-only-band + candidate-re-join plan (bounded row width
    through hot buckets; at guard-exceeding N that is the right shape by
    definition)."""
    sets = _maybe_materialize(minhash_shingle_sets(d), n_docs)
    sigs = _maybe_materialize(minhash_signatures_from_sets(sets), n_docs)
    return verified_pairs_from_bands(
        lsh_band_table(sigs), shingle_sets=sets, metric=metric, tau=tau
    )


def _minhash_lsh(d: DataFrame, rejoin: bool, n_docs: int = 0) -> DataFrame:
    """See minhash_lsh_near_dup. ``rejoin`` picks the physical plan;
    ``n_docs`` gates shared-frame materialization (_materialize_docs).

    Both plans build from the shared pipeline pieces above; only the
    candidate-verification shape differs."""
    sets = minhash_shingle_sets(d)
    if rejoin:
        # sets feeds BOTH the signature agg and the candidate-side shingle
        # re-join: above the gate, materialize once or Spark recomputes the
        # shingle explode + distinct per consumer (an extra corpus pass each).
        # The band table self-joins too — materialize the signatures so the
        # aggregation runs once, not once per join side.
        sets = _maybe_materialize(sets, n_docs)
        sigs = _maybe_materialize(minhash_signatures_from_sets(sets), n_docs)
        return verified_pairs_from_bands(lsh_band_table(sigs), shingle_sets=sets)

    # small corpus (single-pass): each doc's shingle-hash set rides through
    # the signature agg and the band self-join, so candidates verify by array
    # intersection with no second pass
    sig_aggs = [
        F.min(F.expr(f"({_MH_A[k]} * h32 + {_MH_B[k]}) % {_MH_P}")).alias(f"s{k}")
        for k in range(_MH_K)
    ]
    hashed = sets.withColumn(
        "h32", F.expr("CAST(conv(substr(shh, 1, 8), 16, 10) AS BIGINT)")
    )
    sigs = hashed.groupBy("doc_id").agg(*sig_aggs, F.collect_set("shh").alias("shs"))
    sigs = _maybe_materialize(sigs, n_docs)
    bands = sigs.select(
        "doc_id", "shs", F.explode(F.expr(_BAND_STRUCTS_EXPR)).alias("bd")
    ).select("doc_id", "shs", "bd.band_id", "bd.band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.shs").alias("sa"),
            F.col("b.shs").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(sa, sb))").alias("i"),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= _MH_TAU)
    )


@register(
    "dedup_clusters_lsh",
    survey="M5-dedup,beyond-ref",
    oracle=f"""
    WITH RECURSIVE {_MH_CTES_DUCK},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    reach (id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id, MIN(r) = id AS is_canonical
    FROM reach GROUP BY id
    """,
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cluster collapse, end to end: MinHash-LSH candidate pairs
    (constant shuffle bytes per doc — see minhash_lsh_near_dup) feed the
    pointer-doubling connected-components loop (O(log diameter) rounds — see
    text.connected_components). This is the pipeline `dedup_clusters` (exact
    edges, size-guarded) points at for corpora where the quadratic baseline
    refuses to run; the oracle rebuilds the identical graph with a recursive
    CTE over the same LSH pair derivation."""
    from pyspark_cdc_engine.operators.text import connected_components

    pairs = minhash_lsh_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return connected_components(docs, pairs)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEXD = "0123456789abcdef"
_SH_BITS = 32     # 8 hex digits
_SH_FEAT_W = 3    # simhash feature = 3-word shingle (unigrams collide on a
                  # small shared vocabulary; shingles give a feature space of
                  # |V|^3, the standard Charikar-style choice)


def _simhash_fingerprint_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + 32-bit simhash fingerprint (8 lowercase hex chars).

    Feature vote: for each distinct 3-word shingle, md5(shingle)[:8] supplies
    8 hex digits = 32 bits; each bit votes +1/-1; fingerprint bit =
    (vote sum > 0). All bit surgery is FLOOR-div/mod on the hex-digit value
    (instr into '0123…f'), the only formulation that is expression-identical
    across engines. ``fan_out`` spreads the ×(words/doc) shingle+md5
    explode across cores on single-split scans (r13, guide §2.5)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # only the first 8 md5 hex digits are used: dedup features on THAT
    # (8 bytes/row through the distinct shuffle instead of ~20-char shingles;
    # 32-bit collisions merge features identically in both engines)
    words = (
        d.select("doc_id", F.explode(F.expr(_shingle_expr_spark(_SH_FEAT_W))).alias("w"))
        .select("doc_id", F.expr("substr(md5(CAST(w AS BINARY)), 1, 8)").alias("h"))
        .distinct()
    )
    # digit value per hex position p: 0..15
    for p in range(8):
        words = words.withColumn(
            f"v{p}", F.expr(f"instr('{_HEXD}', substring(h, {p + 1}, 1)) - 1")
        )
    # per-doc vote sums for all 32 bits
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"(FLOOR(v{p} / {1 << bit}) % 2) * 2 - 1")).alias(f"b{p}_{bit}")
            for p in range(8)
            for bit in range(4)
        ]
    )
    digit_exprs = [
        "CONCAT("
        + ", ".join(
            f"substring('{_HEXD}', CAST("
            + " + ".join(
                f"(CASE WHEN b{p}_{bit} > 0 THEN {1 << bit} ELSE 0 END)" for bit in range(4)
            )
            + f" AS INT) + 1, 1)"
            for p in range(8)
        )
        + ")"
    ]
    return votes.select("doc_id", F.expr(digit_exprs[0]).alias("fingerprint"))


_SIMHASH_CTE_DUCK = f"""
    hx AS (
      SELECT DISTINCT doc_id, substr(md5(sh), 1, 8) AS h FROM (
        SELECT doc_id, sh FROM (
          SELECT doc_id, string_split(text, ' ') AS wl FROM documents
        ), UNNEST(range(1, len(wl) - {_SH_FEAT_W} + 2)) AS t(i),
        LATERAL (SELECT array_to_string(list_slice(wl, i, i + {_SH_FEAT_W} - 1), ' ') AS sh)
      )
    ),
    dv AS (
      SELECT doc_id,
             {', '.join(f"instr('{_HEXD}', substr(h, {p + 1}, 1)) - 1 AS v{p}" for p in range(8))}
      FROM hx
    ),
    votes AS (
      SELECT doc_id,
             {', '.join(f"SUM((FLOOR(v{p} / {1 << bit}) % 2) * 2 - 1) AS b{p}_{bit}" for p in range(8) for bit in range(4))}
      FROM dv GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, CONCAT(
        {', '.join("substr('" + _HEXD + "', CAST(" + ' + '.join(f"(CASE WHEN b{p}_{bit} > 0 THEN {1 << bit} ELSE 0 END)" for bit in range(4)) + " AS INT) + 1, 1)" for p in range(8))}
      ) AS fingerprint FROM votes
    )
"""


@register(
    "simhash_fingerprint",
    survey="M5-dedup,A2",
    oracle=f"WITH {_SIMHASH_CTE_DUCK} SELECT doc_id, fingerprint FROM fp",
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (one shuffle: groupBy doc_id with 32
    map-side-combinable SUM votes; the fingerprint itself is map-side string
    surgery). At 100 TB the explode(words) never shuffles — only
    (doc_id, 32 ints) does."""
    return _simhash_fingerprint_df(spark, sf_dir)


_POP4 = "(FLOOR({x} / 8) % 2 + FLOOR({x} / 4) % 2 + FLOOR({x} / 2) % 2 + {x} % 2)"
_SH_HAM_MAX = 6  # near-dup iff Hamming distance <= 6 of 32 bits


def _hamming_expr(engine: str) -> str:
    """Sum over 8 hex-digit positions of popcount(xor(digit_a, digit_b))."""
    xor = {"spark": "CAST(va{p} AS INT) ^ CAST(vb{p} AS INT)", "duck": "xor(CAST(va{p} AS BIGINT), CAST(vb{p} AS BIGINT))"}[engine]
    terms = []
    for p in range(8):
        x = f"({xor.format(p=p)})"
        terms.append(_POP4.format(x=x))
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_DIGVALS_A_DUCK = ", ".join(
    f"instr('{_HEXD}', substr(a.fingerprint, {p + 1}, 1)) - 1 AS va{p}" for p in range(8)
)
_DIGVALS_B_DUCK = ", ".join(
    f"instr('{_HEXD}', substr(b.fingerprint, {p + 1}, 1)) - 1 AS vb{p}" for p in range(8)
)


@register(
    "simhash_near_dup",
    survey="M5-dedup,J5",
    oracle=f"""
    WITH {_SIMHASH_CTE_DUCK},
    halves AS (
      SELECT doc_id, fingerprint, half_id,
             CASE half_id WHEN 0 THEN substr(fingerprint, 1, 4)
                          ELSE substr(fingerprint, 5, 4) END AS half
      FROM fp, (VALUES (0), (1)) AS t(half_id)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fingerprint AS fp_a, b.fingerprint AS fp_b
      FROM halves a JOIN halves b
        ON a.half_id = b.half_id AND a.half = b.half AND a.doc_id < b.doc_id
    ),
    dg AS (
      SELECT doc_a, doc_b,
             {', '.join(f"instr('{_HEXD}', substr(fp_a, {p + 1}, 1)) - 1 AS va{p}" for p in range(8))},
             {', '.join(f"instr('{_HEXD}', substr(fp_b, {p + 1}, 1)) - 1 AS vb{p}" for p in range(8))}
      FROM cands
    )
    SELECT doc_a, doc_b, {_hamming_expr('duck')} AS hamming
    FROM dg WHERE {_hamming_expr('duck')} <= {_SH_HAM_MAX}
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit fingerprint into two 16-bit
    halves (guarantees recall for Hamming<=1-per-half splits, standard
    Charikar banding), bucket-join on half equality, verify Hamming <= 6.
    Shuffle payload per doc: 2×(half, fingerprint) — constant bytes."""
    # the halves table self-joins below: above the gate, materialize the
    # fingerprint agg once, or Spark recomputes the shingle explode + distinct
    # + 32-way vote agg per join side (two full corpus passes instead of one)
    fp = _maybe_materialize(
        _simhash_fingerprint_df(spark, sf_dir),
        table_row_count(spark, sf_dir, "documents"),  # footer-only, no scan
    )
    halves = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(
            F.expr(
                "array(named_struct('half_id', 0, 'half', substring(fingerprint, 1, 4)),"
                " named_struct('half_id', 1, 'half', substring(fingerprint, 5, 4)))"
            )
        ).alias("hv"),
    ).select("doc_id", "fingerprint", "hv.half_id", "hv.half")
    a, b = halves.alias("a"), halves.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.half_id") == F.col("b.half_id"))
            & (F.col("a.half") == F.col("b.half"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fingerprint").alias("fp_a"),
            F.col("b.fingerprint").alias("fp_b"),
        )
        .distinct()
    )
    for p in range(8):
        cands = cands.withColumn(
            f"va{p}", F.expr(f"instr('{_HEXD}', substring(fp_a, {p + 1}, 1)) - 1")
        ).withColumn(
            f"vb{p}", F.expr(f"instr('{_HEXD}', substring(fp_b, {p + 1}, 1)) - 1")
        )
    return (
        cands.withColumn("hamming", F.expr(_hamming_expr("spark")))
        .filter(F.col("hamming") <= _SH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-space near-dup + IVF ANN
# ---------------------------------------------------------------------------

_COS_TAU = 0.35      # near-dup cosine threshold (corpus max ≈ 0.44)
_IVF_C = 16          # centroid count (deterministic seed: first C vectors)
_IVF_QUERIES = 8
_IVF_K = 5
_IVF_NPROBE = 3      # multi-probe width: rank-P nearest centroids per query
# Skew guard for the candidate stage: buckets larger than this are hash-split
# into chunks and compared as bounded triangle tasks. The default lives in
# config: engine.ivf-bucket-cap (env IVF_BUCKET_CAP).

_DOT_DEC_SPARK = (
    f"CAST(aggregate(zip_with({{a}}, {{b}}, (x, y) -> "
    f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS {_DEC})), "
    f"CAST(0 AS {_DEC}), (acc, p) -> CAST(acc + p AS {_DEC})) AS DOUBLE)"
)


# Cluster-mean arithmetic is FLOOR-scaled fixed point, not a DECIMAL cast:
# a float32 of the form odd/2^13 is an EXACT 12-dp midpoint (odd/2^13 *
# 10^12 = odd*5^12/2), and Spark's double->DECIMAL cast rounds HALF_UP
# while DuckDB rounds half-even — a real 1e-12 divergence observed at
# sf0.01 (cell (centroid 2, dim 37) of the stride-4 training sample).
# floor() is identical in both engines, and *2^40 is a pure exponent shift
# (exact in IEEE), so the mean is bit-deterministic for ANY input:
# term = floor(val*2^40) summed exactly, mean = sum/2^40/n.
_MEAN_SCALE = 1 << 40  # fixed-point scale for cluster means (~9e-13 grain)


def _mean_term_spark(val_expr: str) -> str:
    """Floor-scaled mean term (Spark SQL), DECIMAL(38,0)-accumulated:
    |val| <= ~100 gives terms < 2^47, so a BIGINT sum would overflow at
    ~65k-row clusters — real 100 TB cluster sizes; the decimal never does."""
    return (
        f"CAST(floor(CAST({val_expr} AS DOUBLE) * {_MEAN_SCALE})"
        f" AS DECIMAL(38,0))"
    )


def _mean_duck(val_expr: str, count_expr: str = "COUNT(*)") -> str:
    """The whole mean expression (DuckDB): floor-scaled HUGEINT sum, then
    /scale/count in double — same left-assoc order as the Spark side."""
    return (
        f"CAST(SUM(CAST(floor(CAST({val_expr} AS DOUBLE) * {_MEAN_SCALE})"
        f" AS HUGEINT)) AS DOUBLE) / {_MEAN_SCALE} / {count_expr}"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"CAST((SELECT SUM(CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) AS {_DEC}))"
        f" FROM UNNEST(range(1, len({a}) + 1)) AS t(i)) AS DOUBLE)"
    )


_IDOT_SCALE = 1 << 20  # fixed-point dot for ASSIGNMENT argmax only


def _idot_duck(a: str, b: str) -> str:
    """Order-independent fixed-point dot product: per-term IEEE double multiply
    (bit-identical across engines) -> floor-scale to BIGINT -> exact integer
    sum. ~5x cheaper than the DECIMAL fold and just as deterministic; used only
    where the dot feeds an argmax/bucketing decision, never as an output
    value (outputs keep the exact-decimal cosine)."""
    return (
        f"(SELECT SUM(CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" * {_IDOT_SCALE}) AS BIGINT))"
        f" FROM UNNEST(range(1, len({a}) + 1)) AS t(i))"
    )


_NORMS_CTE_DUCK = f"""
    norms AS (
      SELECT vec_id, embedding,
             CAST((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {_DEC}))
                   FROM UNNEST(embedding) AS t(x)) AS DOUBLE) AS norm2
      FROM embeddings
    )
"""


_ASSIGN_CTE_DUCK = f"""
    cents AS (SELECT vec_id AS centroid_id, embedding AS cemb, norm2 AS cn2
              FROM norms WHERE vec_id < {_IVF_C}),
    assign_scored AS (
      SELECT n.vec_id, n.embedding, n.norm2, c.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY CAST({{dot}} AS DOUBLE) / SQRT(n.norm2 * c.cn2) DESC,
                        c.centroid_id
             ) AS rn
      FROM norms n CROSS JOIN cents c
    ),
    assigned AS (SELECT vec_id, embedding, norm2, centroid_id
                 FROM assign_scored WHERE rn = 1)
"""


def _ivf_assigned_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, norm2, centroid_id): every vector tagged with its
    nearest-of-C centroid (centroids = first C vectors).

    Fully relational formulation — posexplode components, broadcast-join the
    exploded centroids on position, hash-aggregate fixed-point term products,
    argmax via max_by — so the whole assignment stays in whole-stage codegen
    (Catalyst HOF lambdas are interpreted and several times slower here).
    The dot products feed ONLY the argmax, so they use the fixed-point int64
    form: per-term IEEE double multiply (bit-identical across engines) →
    floor-scale → exact integer SUM. Order-independent like the decimal fold
    the kernel used before, ~5x cheaper, still bit-identical to the oracle's
    window-over-cross-join formulation (which floors the same way).

    Norms come from a codegen DECIMAL hash agg over the exploded components
    (sum of the identical 12-dp x^2 terms — exactly equal to the
    ``aggregate()`` HOF fold). The HOF form is interpreted, and projection
    collapse pushes it below the explode, re-evaluating the fold per
    exploded row — measured ~7x slower per assignment (r11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the only broadcast is the C centroids (and the C-row cn2 table); the
    # only shuffles are the aggregations and the vec_id-keyed joins —
    # nothing here requires an N-row broadcast at 100 TB.
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    cex = ex.filter(F.col("vec_id") < _IVF_C).select(
        F.col("vec_id").alias("centroid_id"), "pos", F.col("val").alias("cval")
    )
    sq = F.expr(f"CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS {_DEC})")
    norms = ex.groupBy("vec_id").agg(F.sum(sq).cast("double").alias("norm2"))
    cns = norms.filter(F.col("vec_id") < _IVF_C).select(
        F.col("vec_id").alias("centroid_id"), F.col("norm2").alias("cn2")
    )
    term = F.expr(
        f"CAST(floor(CAST(val AS DOUBLE) * CAST(cval AS DOUBLE) * {_IDOT_SCALE}) AS BIGINT)"
    )
    dots = (
        ex.join(F.broadcast(cex), "pos")
        .groupBy("vec_id", "centroid_id")
        .agg(F.sum(term).cast("double").alias("dot"))
    )
    best = (
        dots.join(F.broadcast(cns), "centroid_id")
        .join(norms, "vec_id")
        .withColumn("csim", F.col("dot") / F.sqrt(F.col("norm2") * F.col("cn2")))
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(centroid_id, named_struct('s', csim, 'c', -centroid_id))"
            ).alias("centroid_id"),
            F.first("norm2").alias("norm2"),
        )
    )
    return emb.select("vec_id", "embedding").join(best, "vec_id").select(
        "vec_id", "embedding", "norm2", "centroid_id"
    )


_PQ_M = 4      # subspaces (64-dim corpus -> 16 dims each)
_PQ_SUB = 16   # dims per subspace
_PQ_K = 8      # sub-centroids per subspace (deterministic: first K vectors)
_PQ_Q = 4      # query vectors for ADC search (first Q vec_ids)
_PQ_TOPK = 5


def _pq_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, k, dist2): exact-decimal squared L2 distance from every
    vector's m-th subvector to every per-subspace sub-centroid k. The shared
    kernel of PQ encode (argmin per (vec_id, m)) and ADC search (rows where
    vec_id is a query ARE the distance table)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cex = ex.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("k"), "pos", F.col("val").alias("cval")
    )
    term = ((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).cast(_DEC)
    return (
        ex.join(F.broadcast(cex), "pos")
        .withColumn("m", F.expr(f"pos div {_PQ_SUB}"))
        .groupBy("vec_id", "m", "k")
        .agg(F.sum(term).alias("dist2"))
    )


@register(
    "pq_encode",
    survey="M5-ann,beyond-ref",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    cex AS (SELECT vec_id AS k, pos, val AS cval FROM ex WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT e.vec_id, e.pos // {_PQ_SUB} AS m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM ex e JOIN cex c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, m, k AS code, dist2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
      FROM d2
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS code_key,
           CAST(SUM(dist2) AS DOUBLE) AS recon_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode — the compact-code step of a PQ/IVF-PQ
    vector index (Jégou et al.): each vector's {_PQ_M} subvectors are assigned
    to their nearest of {_PQ_K} per-subspace centroids (deterministic seed:
    the first K vectors' subvectors), emitting a {_PQ_M}-byte code key and the
    exact reconstruction (quantization) error.

    Plan shape = the IVF assignment's: posexplode components, broadcast-join
    the K x dim centroid components on position, hash-aggregate exact decimal
    term sums, argmin via min_by with a deterministic (distance, k) tiebreak —
    all codegen, shuffles carry only (vec_id, m, k, partial-sum) rows. At
    100 TB the corpus is scanned once and nothing larger than the code table
    is ever materialized."""
    best = _pq_d2(spark, sf_dir).groupBy("vec_id", "m").agg(
        F.expr(
            "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
        ).alias("code"),
        F.min("dist2").alias("dist2"),
    )
    return best.groupBy("vec_id").agg(
        F.expr(
            "concat_ws('-', transform(array_sort(collect_list("
            "named_struct('m', m, 'code', code))), x -> CAST(x.code AS STRING)))"
        ).alias("code_key"),
        F.sum("dist2").cast("double").alias("recon_err"),
    )


@register(
    "pq_search",
    survey="M5-ann,beyond-ref",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    cex AS (SELECT vec_id AS k, pos, val AS cval FROM ex WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT e.vec_id, e.pos // {_PQ_SUB} AS m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM ex e JOIN cex c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    dtab AS (SELECT vec_id AS q_id, m, k, dist2 FROM d2 WHERE vec_id < {_PQ_Q}),
    scored AS (
      SELECT d.q_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(d.dist2) AS DOUBLE) AS adist
      FROM codes c JOIN dtab d ON d.m = c.m AND d.k = c.code
      WHERE c.vec_id <> d.q_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adist FROM (
      SELECT query_id, neighbor_id, adist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes — the search
    half of an IVF-PQ index: each query precomputes a {_PQ_M}x{_PQ_K} distance
    table to the sub-centroids; a corpus vector's approximate distance is the
    sum of table lookups selected by its code, never touching the raw corpus
    floats again.

    100 TB shape: the distance table is Q x M x K rows (tiny — broadcast); the
    corpus side joins only its (vec_id, m, code) code table — {_PQ_M} ints per
    vector regardless of dimensionality, which is the entire point of PQ. One
    hash agg to fold the M lookups, one per-query top-k. Both the codes and
    the distance table derive from the same shared distance kernel, computed
    in one pass."""
    d2 = _pq_d2(spark, sf_dir)
    codes = d2.groupBy("vec_id", "m").agg(
        F.expr(
            "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
        ).alias("code")
    )
    dtab = d2.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("q_id"), "m", "k", F.col("dist2").alias("qd2")
    )
    scored = (
        codes.join(
            F.broadcast(dtab),
            (codes["m"] == dtab["m"]) & (codes["code"] == dtab["k"]),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy(F.col("q_id").alias("query_id"), F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd2").cast("double").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


@register(
    "ann_ivfpq_search",
    survey="M5-ann,J3,A2,W1,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    qp AS (SELECT vec_id AS query_id, centroid_id
           FROM assign_scored
           WHERE vec_id < {_PQ_Q} AND rn <= {_IVF_NPROBE}),
    cand AS (
      SELECT qp.query_id, a.vec_id
      FROM qp JOIN assigned a ON a.centroid_id = qp.centroid_id
      WHERE a.vec_id <> qp.query_id
    ),
    ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    cex AS (SELECT vec_id AS k, pos, val AS cval FROM ex WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT e.vec_id, e.pos // {_PQ_SUB} AS m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM ex e JOIN cex c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    dtab AS (SELECT vec_id AS q_id, m, k, dist2 FROM d2 WHERE vec_id < {_PQ_Q}),
    scored AS (
      SELECT cand.query_id, cand.vec_id AS neighbor_id,
             CAST(SUM(d.dist2) AS DOUBLE) AS adist
      FROM cand
      JOIN codes c ON c.vec_id = cand.vec_id
      JOIN dtab d ON d.q_id = cand.query_id AND d.m = c.m AND d.k = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adist FROM (
      SELECT query_id, neighbor_id, adist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the two quantizers composed the way FAISS composes
    its production index (Jégou et al.): a query probes its
    {_IVF_NPROBE} nearest COARSE centroids (IVF, rank-P quantization), and
    candidates inside the probed inverted lists are ranked by PQ ADC — the
    sum of {_PQ_M} distance-table lookups selected by each candidate's
    code, never touching the raw corpus floats at search time.

    100 TB shape = the intersection of both parts' shapes: the probe table
    is Q x P rows and the ADC distance table Q x M x K rows (both broadcast);
    the corpus side touches only its (vec_id, centroid_id) list entries and
    (vec_id, m, code) code table — ~{_PQ_M} ints + one bucket id per vector
    regardless of dimensionality. One broadcast join narrows the corpus to
    probed buckets, one hash agg folds the M lookups, one per-query top-k.
    Composes the registered kernels' exact derivations verbatim
    (:func:`_ivf_assigned_df` lists, :func:`_ivf_query_probes` probes,
    :func:`_pq_d2` codes + tables), so every ADC distance is
    oracle-checkable exact decimal; ties break on neighbor_id as across the
    whole ANN family. Query panel = the PQ panel ({_PQ_Q} queries,
    k={_PQ_TOPK})."""
    assigned = _ivf_assigned_df(spark, sf_dir).select("vec_id", "centroid_id")
    probes = (
        _ivf_query_probes(spark, sf_dir, _IVF_NPROBE)
        .filter(F.col("query_id") < _PQ_Q)
        .select("query_id", "centroid_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    d2 = _pq_d2(spark, sf_dir)
    codes = d2.groupBy("vec_id", "m").agg(
        F.expr(
            "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
        ).alias("code")
    )
    dtab = d2.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("q_id"), "m", "k", F.col("dist2").alias("qd2")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(dtab),
            (F.col("q_id") == F.col("query_id"))
            & (dtab["m"] == codes["m"])
            & (dtab["k"] == F.col("code")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd2").cast("double").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


# ---------------------------------------------------------------------------
# Trained PQ codebooks: per-subspace L2 Lloyd's — the PQ half of the FAISS
# training story (train_kmeans trains the coarse quantizer; this trains the
# sub-quantizers). All M subspaces train IN ONE JOB per iteration — the
# codebook state is M x K x SUB rows (512 here), broadcast every round.
# ---------------------------------------------------------------------------

_PQ_T = 2  # Lloyd's iterations for the certified trained codebooks


def _pq_ex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out before the ×64 explode: single-split scans otherwise run the
    # whole subspace-distance pipeline in one task (r13, guide §2.5)
    return (
        fan_out(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .withColumn("val", F.col("val").cast("double"))
    )


def _pq_d2_vs(ex: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, k, dist2): exact-decimal squared L2 against an EXPLICIT
    long-form codebook (m, k, pos, cval) — the generalization of
    :func:`_pq_d2` beyond the first-K seed."""
    term = (
        (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
    ).cast(_DEC)
    return (
        ex.join(F.broadcast(cb), "pos")
        .groupBy("vec_id", "m", "k")
        .agg(F.sum(term).alias("dist2"))
    )


def _pq_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id): exact squared-L2 top-{_PQ_TOPK} ground truth
    over the {_PQ_Q}-query PQ panel — the truth side every PQ recall eval
    shares. Exploded codegen decimal hash agg, NOT the per-pair
    zip_with/aggregate fold (interpreted, re-evaluated per pair — the r11
    HOF lesson): identical 12-dp decimal terms, order-independent sum, so
    d2 and the (d2, neighbor_id) ranking are bit-identical either way."""
    ex = _pq_ex(spark, sf_dir)
    truth_term = (
        (F.col("qval") - F.col("val")) * (F.col("qval") - F.col("val"))
    ).cast(_DEC)
    qex = ex.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("val").alias("qval")
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("d2").cast("double"), F.col("neighbor_id")
    )
    return (
        ex.join(F.broadcast(qex), "pos")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
        )
        .agg(F.sum(truth_term).alias("d2"))
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )


def train_pq_codebooks(
    spark: SparkSession, sf_dir: str, n_iters: int = _PQ_T,
    sample_stride: int = 1,
) -> DataFrame:
    """Per-subspace L2 k-means over the sf_dir embeddings table — see
    :func:`train_pq_codebooks_from` (this is the registry-query binding of
    the same trainer to the standard test corpus)."""
    return train_pq_codebooks_from(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        n_iters,
        sample_stride=sample_stride,
    )


def train_pq_codebooks_from(
    vectors: DataFrame, n_iters: int = _PQ_T, sample_stride: int = 1
) -> DataFrame:
    """Per-subspace L2 k-means over ``vectors``: seed = the first
    ``_PQ_K`` vectors' subvectors (``n_iters=0`` IS ``_pq_d2``'s
    training-free convention), then ``n_iters`` Lloyd's rounds — assign
    every (vector, subspace) to its nearest sub-centroid (exact-decimal
    squared L2, ``(dist, k)`` argmin tie-break), recompute each
    sub-centroid as the floor-scaled fixed-point per-dim mean of its cell, keep a
    sub-centroid unchanged if its cell went empty. ALL ``_PQ_M`` subspaces
    train inside the same jobs (the codebook is one broadcast frame keyed
    (m, k, pos)). Returns the long-form codebook (m, k, pos, cval).

    100 TB shape: one corpus scan per iteration (broadcast-join distance +
    two hash aggs); only the M x K x SUB codebook crosses iterations —
    COLLECTED per round and fed back as a literal frame, the same bounded
    driver loop as :func:`train_kmeans` (512 doubles here; executor-side
    lineage checkpoints measured several times slower).

    ``sample_stride > 1`` is the 100 TB training path (FAISS trains its
    product quantizer on a bounded sample, not the corpus): Lloyd's rounds
    read only ``vec_id % sample_stride == 0`` plus the first-``_PQ_K``
    seeds (stride-invariant, SQL-derivable so the oracle reproduces the
    subset exactly), cutting each iteration's scan to corpus/stride; the
    returned codebook still encodes every vector downstream."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("m", IntegerType(), False),
            StructField("k", IntegerType(), False),
            StructField("pos", IntegerType(), False),
            StructField("cval", DoubleType(), False),
        ]
    )

    def literal(cb_map: dict[tuple[int, int, int], float]) -> DataFrame:
        from pyspark_cdc_engine.operators.registry import literal_frame

        return literal_frame(
            spark,
            [(m, k, p, v) for (m, k, p), v in sorted(cb_map.items())],
            schema,
        )

    spark = vectors.sparkSession
    # fan_out: each Lloyd's round multiplies per-row work ×(dim·K); a
    # single-split scan would train single-threaded (r13, guide §2.5).
    # cut=True (gate-bounded): the seed collect + every iteration's two
    # consumers re-executed the repartition exchange per job otherwise.
    ex = fan_out(vectors, cut=True).select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    ex_t = (
        ex
        if sample_stride <= 1
        else ex.filter(
            (F.col("vec_id") < _PQ_K)
            | (F.col("vec_id") % sample_stride == 0)
        )
    )
    cb_map = {
        (r["pos"] // _PQ_SUB, r["vec_id"], r["pos"]): float(r["val"])
        for r in ex.filter(F.col("vec_id") < _PQ_K).collect()
    }
    cb = literal(cb_map)
    for _ in range(n_iters):
        asg = (
            _pq_d2_vs(ex_t, cb)
            .groupBy("vec_id", "m")
            .agg(
                F.expr(
                    "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
                ).alias("code")
            )
        )
        means = (
            ex_t.withColumn("m", F.expr(f"pos div {_PQ_SUB}"))
            .join(asg, ["vec_id", "m"])
            .groupBy("m", F.col("code").alias("k"), "pos")
            .agg(
                (
                    F.sum(F.expr(_mean_term_spark("val"))).cast("double")
                    / _MEAN_SCALE
                    / F.count(F.lit(1))
                ).alias("cval_new")
            )
            .collect()  # bounded: M x K x SUB cells
        )
        new_map = dict(cb_map)  # keep-old for empty (m, k) cells
        for r in means:
            new_map[(r["m"], r["k"], r["pos"])] = r["cval_new"]
        cb_map = new_map
        cb = literal(cb_map)
    return cb


def _pq_train_ctes_duck(
    n_iters: int = _PQ_T, train_where: str | None = None
) -> str:
    """DuckDB re-derivation of :func:`train_pq_codebooks` as unrolled CTEs:
    emits ``pex`` (components), ``pcb{{n}}`` codebooks, and ``pd2t`` — the
    distance table of every vector against the TRAINED codebook, mirroring
    ``_pq_d2``'s shape so encode/search queries read identically.

    ``train_where`` restricts the TRAINING rows (a SQL predicate over
    ``pex``); the final ``pd2t`` always covers the whole corpus — the
    build-then-fold split of :class:`IncrementalPqCodes`, same shape as
    ``_kmeans_ctes_duck(train_src=...)``."""
    src = "pex" if train_where is None else "pex_train"
    parts = [
        f"""
    pex AS MATERIALIZED (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )"""
    ]
    if train_where is not None:
        parts.append(
            f""",
    pex_train AS MATERIALIZED (SELECT * FROM pex WHERE {train_where})"""
        )
    parts.append(
        f""",
    pcb0 AS MATERIALIZED (
      SELECT pos // {_PQ_SUB} AS m, vec_id AS k, pos, val AS cval
      FROM {src} WHERE vec_id < {_PQ_K})"""
    )
    for n in range(n_iters):
        parts.append(
            f""",
    pd2_{n} AS MATERIALIZED (
      SELECT e.vec_id, c.m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM {src} e JOIN pcb{n} c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    pasg_{n} AS MATERIALIZED (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM pd2_{n}
      ) WHERE rn = 1
    ),
    pmean_{n} AS MATERIALIZED (
      SELECT a.m, a.code AS k, e.pos,
             {_mean_duck('e.val')} AS cval_new
      FROM pasg_{n} a
      JOIN {src} e ON e.vec_id = a.vec_id AND e.pos // {_PQ_SUB} = a.m
      GROUP BY 1, 2, 3
    ),
    pcb{n + 1} AS MATERIALIZED (
      SELECT p.m, p.k, p.pos, COALESCE(m2.cval_new, p.cval) AS cval
      FROM pcb{n} p LEFT JOIN pmean_{n} m2 USING (m, k, pos)
    )"""
        )
    parts.append(
        f""",
    pd2t AS MATERIALIZED (
      SELECT e.vec_id, c.m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM pex e JOIN pcb{n_iters} c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    )"""
    )
    return "".join(parts)


@register(
    "pq_trained_encode",
    survey="M5-ann,A2,beyond-ref",
    oracle=f"""
    WITH {_pq_train_ctes_duck(_PQ_T)},
    best AS (
      SELECT vec_id, m, k AS code, dist2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
      FROM pd2t
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS code_key,
           CAST(SUM(dist2) AS DOUBLE) AS recon_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def pq_trained_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode under TRAINED sub-quantizers: {_PQ_T} per-subspace Lloyd's
    rounds (:func:`train_pq_codebooks`) replace the first-K subvector seed
    of ``pq_encode`` — the other half of the FAISS training discipline
    (``ann_ivf_trained`` trains the coarse quantizer, this trains the
    codebooks ADC actually looks up). Same output contract as
    ``pq_encode`` (code key + exact-decimal reconstruction error), and the
    DuckDB oracle re-derives the ENTIRE per-subspace training as unrolled
    CTEs — one hash match certifies the trainer's every assignment and
    mean, not just the final codes. Lloyd's monotonicity makes the total
    recon_err provably <= the untrained encoder's (asserted in tests) —
    the measured justification for paying the training scans."""
    cb = train_pq_codebooks(spark, sf_dir, _PQ_T)
    best = (
        _pq_d2_vs(_pq_ex(spark, sf_dir), cb)
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
            ).alias("code"),
            F.min("dist2").alias("dist2"),
        )
    )
    return best.groupBy("vec_id").agg(
        F.expr(
            "concat_ws('-', transform(array_sort(collect_list("
            "named_struct('m', m, 'code', code))), x -> CAST(x.code AS STRING)))"
        ).alias("code_key"),
        F.sum("dist2").cast("double").alias("recon_err"),
    )


_PQ_STRIDE = 4  # deterministic training-sample stride for the sampled trainer


@register(
    "pq_trained_encode_sampled",
    survey="M5-ann,A2,beyond-ref",
    oracle=f"""
    WITH {_pq_train_ctes_duck(_PQ_T,
        train_where=f"vec_id < {_PQ_K} OR vec_id % {_PQ_STRIDE} = 0")},
    best AS (
      SELECT vec_id, m, k AS code, dist2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
      FROM pd2t
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS code_key,
           CAST(SUM(dist2) AS DOUBLE) AS recon_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def pq_trained_encode_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`pq_trained_encode` with SAMPLE-based codebook training — the
    100 TB PQ-training path (the product-quantization sibling of
    ``ann_ivf_trained_sampled``; FAISS trains sub-quantizers on a bounded
    sample and encodes the full corpus once). Lloyd's rounds read only
    ``vec_id % {_PQ_STRIDE} == 0`` plus the first-{_PQ_K} seeds, so each of
    the {_PQ_T} iterations scans corpus/{_PQ_STRIDE}; the ENCODE still
    covers every vector against the sampled-trained books. The oracle
    re-derives the sampled training as unrolled CTEs over the same subset
    (``train_where``), so the hash certifies the restricted trainer
    end-to-end. Quality retention is asserted in tests: sampled-trained
    total reconstruction error still lands below the training-free
    first-K-seed encoder on the full corpus."""
    cb = train_pq_codebooks(spark, sf_dir, _PQ_T, sample_stride=_PQ_STRIDE)
    best = (
        _pq_d2_vs(_pq_ex(spark, sf_dir), cb)
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
            ).alias("code"),
            F.min("dist2").alias("dist2"),
        )
    )
    return best.groupBy("vec_id").agg(
        F.expr(
            "concat_ws('-', transform(array_sort(collect_list("
            "named_struct('m', m, 'code', code))), x -> CAST(x.code AS STRING)))"
        ).alias("code_key"),
        F.sum("dist2").cast("double").alias("recon_err"),
    )


@register(
    "pq_trained_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_pq_train_ctes_duck(_PQ_T)},
    codes0 AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM pd2_0
      ) WHERE rn = 1
    ),
    fc_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY CAST(SUM(d.dist2) AS DOUBLE), c.vec_id) AS rank
        FROM codes0 c JOIN pd2_0 d ON d.m = c.m AND d.k = c.code
        WHERE d.vec_id < {_PQ_Q} AND c.vec_id <> d.vec_id
        GROUP BY d.vec_id, c.vec_id
      ) WHERE rank <= {_PQ_TOPK}
    ),
    codest AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM pd2t
      ) WHERE rn = 1
    ),
    tr_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY CAST(SUM(d.dist2) AS DOUBLE), c.vec_id) AS rank
        FROM codest c JOIN pd2t d ON d.m = c.m AND d.k = c.code
        WHERE d.vec_id < {_PQ_Q} AND c.vec_id <> d.vec_id
        GROUP BY d.vec_id, c.vec_id
      ) WHERE rank <= {_PQ_TOPK}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(SUM(CAST((CAST(q.embedding[i] AS DOUBLE)
                                          - CAST(c.embedding[i] AS DOUBLE))
                                        * (CAST(q.embedding[i] AS DOUBLE)
                                          - CAST(c.embedding[i] AS DOUBLE))
                                        AS {_DEC})) AS DOUBLE), c.vec_id) AS rank
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id,
        UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
        WHERE q.vec_id < {_PQ_Q}
        GROUP BY q.vec_id, c.vec_id
      ) WHERE rank <= {_PQ_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS hits_firstk,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits_trained,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_firstk,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_trained
    FROM exact b
    LEFT JOIN fc_topk f
      ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
    LEFT JOIN tr_topk t
      ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def pq_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC recall@k under TRAINED vs first-K codebooks against exact
    squared-L2 ground truth over the fixed {_PQ_Q}-query panel — the
    measurement that accompanies :func:`pq_trained_encode` (FAISS
    discipline: never ship a quantizer change without its recall). Both
    index sides run the identical ADC plan (distance table broadcast,
    corpus joins only codes); only the codebook differs, so the delta IS
    the training effect. Distortion improves provably (Lloyd's); recall on
    a tiny panel may move either way — measured, not assumed.

    The exact ground truth is independent of codebook training, so it
    materializes on a driver thread WHILE the Lloyd's rounds run (guide
    §2.6 — overlap independent jobs; r13): its wall hides behind the
    inherently serial training collects instead of appending to them. The
    frame is Q×k rows; values are the same order-independent decimal sums
    either way."""
    from pyspark_cdc_engine.checkpointing import materialize_async

    ex = _pq_ex(spark, sf_dir)

    def adc_topk(cb: DataFrame) -> DataFrame:
        # d2 feeds both the code argmin and the query distance table, but
        # dtab's re-derivation is pushdown-cheap (vec_id < Q reaches the
        # scan, so its copy of the subtree is O(Q)) — measured: an eager
        # materialize here cost 9->15 s by breaking the agg pipelining
        # (r12; the same lesson as the r10 eval-sharing adjudication)
        d2 = _pq_d2_vs(ex, cb)
        codes = d2.groupBy("vec_id", "m").agg(
            F.expr(
                "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
            ).alias("code")
        )
        dtab = d2.filter(F.col("vec_id") < _PQ_Q).select(
            F.col("vec_id").alias("q_id"), "m", "k", F.col("dist2").alias("qd2")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adist").cast("double"), F.col("neighbor_id")
        )
        return (
            codes.join(
                F.broadcast(dtab),
                (codes["m"] == dtab["m"]) & (codes["code"] == dtab["k"]),
            )
            .filter(F.col("vec_id") != F.col("q_id"))
            .groupBy(
                F.col("q_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
            )
            .agg(F.sum("qd2").alias("adist"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("query_id", "neighbor_id")
        )

    exact_async = materialize_async(_pq_exact_topk(spark, sf_dir))
    try:
        firstk = adc_topk(train_pq_codebooks(spark, sf_dir, 0)).withColumn(
            "hitf", F.lit(1)
        )
        trained = adc_topk(train_pq_codebooks(spark, sf_dir, _PQ_T)).withColumn(
            "hitt", F.lit(1)
        )
        hf = F.sum(F.coalesce(F.col("hitf"), F.lit(0)))
        ht = F.sum(F.coalesce(F.col("hitt"), F.lit(0)))
        exact = exact_async()
    finally:
        exact_async.cancel()
    return (
        exact.join(firstk, ["query_id", "neighbor_id"], "left")
        .join(trained, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hf.cast("bigint").alias("hits_firstk"),
            ht.cast("bigint").alias("hits_trained"),
            (hf.cast("double") / _PQ_TOPK).alias("recall_firstk"),
            (ht.cast("double") / _PQ_TOPK).alias("recall_trained"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the third codebook family FAISS ships
# (IndexScalarQuantizer): per-DIMENSION linear int8 quantization. Codes are
# dim bytes per vector; the "codebook" is just 2 doubles per dimension.
# ---------------------------------------------------------------------------


def _sq8_stats_cte_duck() -> str:
    return f"""
    comp8 AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    dstats AS (
      SELECT pos, MIN(val) AS dmin, MAX(val) AS dmax
      FROM comp8 GROUP BY pos
    ),
    coded AS (
      SELECT c.vec_id, c.pos, c.val, s.dmin, s.dmax,
             CASE WHEN s.dmax > s.dmin
                  THEN CAST(floor((c.val - s.dmin) / (s.dmax - s.dmin)
                                  * 255 + 0.5) AS INT)
                  ELSE 0 END AS code
      FROM comp8 c JOIN dstats s ON s.pos = c.pos
    ),
    deq AS (
      SELECT vec_id, pos, val, code,
             CASE WHEN dmax > dmin
                  THEN dmin + CAST(code AS DOUBLE) / 255 * (dmax - dmin)
                  ELSE dmin END AS dval
      FROM coded
    )"""


@register(
    "sq8_encode",
    survey="M5-ann,A2,beyond-ref",
    oracle=f"""
    WITH {_sq8_stats_cte_duck()}
    SELECT vec_id,
           md5(string_agg(lpad(CAST(code AS VARCHAR), 3, '0'), ','
                          ORDER BY lpad(CAST(pos AS VARCHAR), 2, '0'))) AS codes_md5,
           CAST(SUM(CAST(ABS(val - dval) AS {_DEC})) AS DOUBLE) AS qerr
    FROM deq GROUP BY vec_id
    """,
)
def sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization encode — FAISS's IndexScalarQuantizer
    recipe: each DIMENSION gets a linear 0..255 grid between its corpus-wide
    min and max (the whole "codebook" is 2 doubles per dimension — one
    64-row broadcast), and every vector's component rounds to its grid
    point. Emits per vector a canonical md5 of the zero-padded code list
    (pure-string ordering, identical in both engines) and the exact-decimal
    total dequantization error — the number that decides whether 8 bits per
    dimension is enough for this corpus.

    100 TB shape: one explode + per-dimension agg for the stats (dim-sized
    result, broadcast back), one map-side join to code every component —
    no shuffle larger than (vec_id, pos, code). All double arithmetic is
    per-component IEEE ops identical across engines; rounding is an
    explicit floor(x + 0.5), never a libm/banker's round."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), cut=True)
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    stats = comp.groupBy("pos").agg(
        F.min("val").alias("dmin"), F.max("val").alias("dmax")
    )
    coded = comp.join(F.broadcast(stats), "pos").withColumn(
        "code",
        F.when(
            F.col("dmax") > F.col("dmin"),
            F.floor(
                (F.col("val") - F.col("dmin"))
                / (F.col("dmax") - F.col("dmin"))
                * 255
                + 0.5
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    deq = coded.withColumn(
        "dval",
        F.when(
            F.col("dmax") > F.col("dmin"),
            F.col("dmin")
            + F.col("code").cast("double") / 255 * (F.col("dmax") - F.col("dmin")),
        ).otherwise(F.col("dmin")),
    )
    return deq.groupBy("vec_id").agg(
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(named_struct("
                    "'o', lpad(CAST(pos AS STRING), 2, '0'),"
                    " 'c', lpad(CAST(code AS STRING), 3, '0')))), x -> x.c)"
                ),
                ",",
            ).cast("binary")
        ).alias("codes_md5"),
        F.sum(F.expr(f"CAST(ABS(val - dval) AS {_DEC})"))
        .cast("double")
        .alias("qerr"),
    )


@register(
    "sq8_search",
    survey="M5-ann,J3,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_sq8_stats_cte_duck()},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(q.val * c.dval AS {_DEC})) AS DOUBLE) AS adot
      FROM comp8 q
      JOIN deq c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {_PQ_Q}
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rank, adot FROM (
      SELECT query_id, neighbor_id, adot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adot DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-k inner-product search over SQ8 codes: the query keeps
    its raw floats, candidates dequantize on the fly from their int8 codes
    (dmin + code/255*(dmax-dmin)) — the SQ analog of PQ's ADC, trading 4x
    memory for a per-dimension multiply instead of a table lookup. Query
    panel = the PQ panel ({_PQ_Q} queries, k={_PQ_TOPK}); exact-decimal dot
    fold and neighbor_id tie-breaks keep the ranking oracle-checkable.

    100 TB shape: the per-dim stats are a 64-row broadcast; the corpus side
    shuffles only (vec_id, pos, code) triples into the per-(query, vector)
    fold — at dim bytes per vector this is the smallest index in the family."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), cut=True)
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    stats = comp.groupBy("pos").agg(
        F.min("val").alias("dmin"), F.max("val").alias("dmax")
    )
    deq = (
        comp.join(F.broadcast(stats), "pos")
        .withColumn(
            "code",
            F.when(
                F.col("dmax") > F.col("dmin"),
                F.floor(
                    (F.col("val") - F.col("dmin"))
                    / (F.col("dmax") - F.col("dmin"))
                    * 255
                    + 0.5
                ).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "dval",
            F.when(
                F.col("dmax") > F.col("dmin"),
                F.col("dmin")
                + F.col("code").cast("double")
                / 255
                * (F.col("dmax") - F.col("dmin")),
            ).otherwise(F.col("dmin")),
        )
        .select("vec_id", "pos", "dval")
    )
    q = comp.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("val").alias("qval")
    )
    scored = (
        deq.join(F.broadcast(q), "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(F.expr(f"CAST(qval * dval AS {_DEC})"))
            .cast("double")
            .alias("adot")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "rank", "adot")
    )


@register(
    "sq8_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_sq8_stats_cte_duck()},
    sq_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adot DESC, neighbor_id) AS rank
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(SUM(CAST(q.val * c.dval AS {_DEC})) AS DOUBLE) AS adot
          FROM comp8 q
          JOIN deq c ON c.pos = q.pos AND c.vec_id <> q.vec_id
          WHERE q.vec_id < {_PQ_Q}
          GROUP BY 1, 2
        )
      ) WHERE rank <= {_PQ_TOPK}
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY xdot DESC, neighbor_id) AS rank
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(SUM(CAST(q.val * c.val AS {_DEC})) AS DOUBLE) AS xdot
          FROM comp8 q
          JOIN comp8 c ON c.pos = q.pos AND c.vec_id <> q.vec_id
          WHERE q.vec_id < {_PQ_Q}
          GROUP BY 1, 2
        )
      ) WHERE rank <= {_PQ_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(s.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall
    FROM exact_topk b
    LEFT JOIN sq_topk s
      ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def sq8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SQ8 index against exact inner-product ground truth —
    the eval that decides whether 8 bits per dimension preserves the
    RANKING, not just the values (the quantization error sq8_encode reports
    bounds values; ranking inversions are what search actually loses).
    Same exact-decimal dot fold on both sides — the only difference is the
    candidate's dequantized vs raw components — and neighbor_id tie-breaks
    keep both top-k sets deterministic. Completes the per-index eval
    pattern: every quantizer family in the engine (IVF, multiprobe, PQ,
    IVF-PQ, sign-LSH, SQ8) ships with its measured recall, not an assumed
    one."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), cut=True)
    sq = (
        sq8_search(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    q = emb.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cemb")
    )
    dot_expr = (
        f"CAST(aggregate(zip_with(qemb, cemb, (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS {_DEC})), "
        f"CAST(0 AS {_DEC}), (acc, p) -> CAST(acc + p AS {_DEC})) AS DOUBLE)"
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(dot_expr).alias("xdot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("xdot").desc(), F.col("neighbor_id")
    )
    exact_topk = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    return (
        exact_topk.join(sq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / _PQ_TOPK
            ).alias("recall"),
        )
    )


def _triangle_tasks(assigned: DataFrame, cap: int) -> DataFrame:
    """Tag every (bucket) row with its chunk and replicate it to each triangle
    task its chunk participates in.

    A bucket of B rows with B > ``cap`` is hash-split into k = ceil(B/cap)
    chunks; the bucket's all-pairs work becomes k(k+1)/2 independent tasks
    (i, j), i <= j, each comparing chunk i against chunk j. A row in chunk c
    joins exactly the k tasks with i = c or j = c, so replication is x k while
    per-task work drops from B² to ~(B/k)² — the straggler bound. Buckets at
    or under ``cap`` get k = 1: a single task, zero replication (the common,
    unskewed case pays nothing).

    Bucket size comes from a WINDOW count over centroid_id, not an agg+join —
    ``assigned`` is typically an expensive unmaterialized plan (the IVF
    assignment) and a self-join would compute it twice."""
    return (
        assigned.withColumn(
            "_bsz", F.count(F.lit(1)).over(Window.partitionBy("centroid_id"))
        )
        .withColumn("_k", F.ceil(F.col("_bsz") / cap).cast("int"))
        .withColumn("_chunk", F.pmod(F.xxhash64("vec_id"), F.col("_k")).cast("int"))
        .withColumn(
            "_task",
            F.explode(
                F.expr(
                    "filter(flatten(transform(sequence(0, _k - 1),"
                    " i -> transform(sequence(i, _k - 1), j -> struct(i AS i, j AS j)))),"
                    " p -> p.i = _chunk OR p.j = _chunk)"
                )
            ),
        )
        .withColumn("_i", F.col("_task.i"))
        .withColumn("_j", F.col("_task.j"))
        .drop("_task", "_bsz", "_k")
    )


def _bucket_candidate_pairs(
    assigned: DataFrame, tau: float, cap: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs per IVF bucket, vectorized and SKEW-GUARDED.

    Per task, one numpy gram matrix inside applyInPandas (Arrow batch in, tiny
    pair list out). Float64 scoring with a 1e-6 safety margin can only
    OVER-generate relative to the exact decimal semantics (|float64 - exact|
    << 1e-9 for 64-dim dots of |x| < 0.58), never drop a true pair.

    Exactness under the triangle split: a pair (x, y) in chunks (cx, cy) is
    compared in exactly one task — (cx, cx) when cx = cy, else
    (min(cx,cy), max(cx,cy)) — so the union over tasks equals the unsplit
    per-bucket all-pairs, just in bounded pieces."""
    import numpy as np
    import pandas as pd

    cap = get_config().get_int("engine.ivf-bucket-cap") if cap is None else cap
    tasks = _triangle_tasks(assigned, cap)

    empty = pd.DataFrame(
        {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64")}
    )

    def task_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["_i"].iloc[0]), int(pdf["_j"].iloc[0])
        m = np.asarray([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        ids = pdf["vec_id"].to_numpy()
        n2 = pdf["norm2"].to_numpy()
        ch = pdf["_chunk"].to_numpy()
        if ti == tj:  # within-chunk: upper triangle
            sel = ch == ti
            m, ids, n2 = m[sel], ids[sel], n2[sel]
            if len(ids) < 2:
                return empty
            cs = (m @ m.T) / np.sqrt(np.outer(n2, n2))
            ia, ib = np.nonzero(np.triu(cs >= tau - 1e-6, k=1))
            va, vb = ids[ia], ids[ib]
        else:  # cross-chunk: full rectangle, chunks are disjoint
            sa, sb = ch == ti, ch == tj
            if not sa.any() or not sb.any():
                return empty
            cs = (m[sa] @ m[sb].T) / np.sqrt(np.outer(n2[sa], n2[sb]))
            ia, ib = np.nonzero(cs >= tau - 1e-6)
            va, vb = ids[sa][ia], ids[sb][ib]
        return pd.DataFrame({"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb)})

    return tasks.groupBy("centroid_id", "_i", "_j").applyInPandas(
        task_pairs, schema="vec_a long, vec_b long"
    )


@register(
    "embedding_cosine_near_dup",
    survey="M5-dedup,J5",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_dot_duck('a.embedding', 'b.embedding')} / SQRT(a.norm2 * b.norm2) AS cos_sim
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_dot_duck('a.embedding', 'b.embedding')} / SQRT(a.norm2 * b.norm2) >= {_COS_TAU}
    """,
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above τ={_COS_TAU}, blocked by
    IVF coarse quantization: vectors are bucketed to their nearest-of-C
    centroid and only same-bucket pairs are compared — N²/C exact comparisons
    instead of N² (the FAISS-style dedup recipe; at 100 TB the bucket is the
    shuffle key, so each reducer does a small local all-pairs). Recall is
    bounded by the blocking, as with any coarse-quantizer dedup. A hot
    centroid cannot collapse the stage to one straggler: oversized buckets
    are triangle-split into bounded tasks (see _bucket_candidate_pairs)."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    cands = _bucket_candidate_pairs(assigned, _COS_TAU)

    # Stage 2 — exact-decimal verification of the handful of candidates
    # (broadcast the pair list, stream the corpus past it twice, HOF fold on
    # ~hundreds of rows). The emitted cos_sim is the same exact arithmetic the
    # oracle computes, so borderline pairs agree bit-for-bit.
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("norm2").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("norm2").alias("nb")
    )
    dot = _DOT_DEC_SPARK.format(a="ea", b="eb")
    return (
        a.join(F.broadcast(cands), "vec_a")
        .join(b, "vec_b")
        .withColumn("cos_sim", F.expr(dot) / F.sqrt(F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= _COS_TAU)
        .select("vec_a", "vec_b", "cos_sim")
    )


@register(
    "ann_ivf_bucketed",
    survey="M5-ann,W1,O1",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    q AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
          FROM assigned WHERE vec_id < {_IVF_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('q.qemb', 'c.embedding')} / SQRT(q.qn2 * c.norm2) AS cos_sim
      FROM q JOIN assigned c
        ON c.centroid_id = q.centroid_id AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: C={_IVF_C} centroids (deterministic seed = first C
    vectors — training-free, same idea as kmeans|| init's sample step), each
    vector assigned to its nearest centroid (broadcast join: corpus × C stays
    map-side), queries search only their own bucket. Scan cost per query drops
    from N to ~N/C; recall is whatever the bucketing earns (reported here as
    the deterministic contract so the oracle can verify the exact plan)."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
        F.col("centroid_id").alias("qcent"),
    )
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("centroid_id") == F.col("qcent")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _ivf_query_probes(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(query_id, qemb, qn2, centroid_id): each query-panel vector paired
    with its ``nprobe`` NEAREST centroids (rank-P coarse quantization, the
    IVF ``nprobe`` knob). Same fixed-point argmax kernel as
    :func:`_ivf_assigned_df`, but ranked with a window instead of max_by so
    ranks 1..P survive. The query panel is a fixed small set, so the whole
    probe table is Q x P rows — always the broadcast side."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    q = emb.filter(F.col("vec_id") < _IVF_QUERIES)
    ex = q.select("vec_id", "norm2", F.posexplode("embedding").alias("pos", "val"))
    cex = emb.filter(F.col("vec_id") < _IVF_C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("norm2").alias("cn2"),
        F.posexplode("embedding").alias("pos", "cval"),
    )
    term = F.expr(
        f"CAST(floor(CAST(val AS DOUBLE) * CAST(cval AS DOUBLE) * {_IDOT_SCALE}) AS BIGINT)"
    )
    dots = (
        ex.join(F.broadcast(cex), "pos")
        .groupBy("vec_id", "centroid_id")
        .agg(
            F.sum(term).cast("double").alias("dot"),
            F.first("norm2").alias("norm2"),
            F.first("cn2").alias("cn2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        (F.col("dot") / F.sqrt(F.col("norm2") * F.col("cn2"))).desc(),
        F.col("centroid_id"),
    )
    probes = (
        dots.withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    return q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
    ).join(probes, "query_id")


@register(
    "ann_ivf_multiprobe",
    survey="M5-ann,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    scored AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qp.qemb', 'c.embedding')} / SQRT(qp.qn2 * c.norm2) AS cos_sim
      FROM qp JOIN assigned c
        ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with ``nprobe``={_IVF_NPROBE}: each query searches its
    {_IVF_NPROBE} nearest centroids' buckets instead of exactly one — the
    knob every production IVF deployment turns when single-probe recall
    (measured by ``ann_recall_at_k``) is too weak. Candidates stay unique
    without a dedup pass: a corpus vector lives in exactly ONE rank-1
    bucket and a query's probed centroids are distinct. Scan cost per query
    is ~P·N/C; the probe table is Q x P rows broadcast to the corpus, so
    the 100 TB shape is unchanged from single-probe (one broadcast join +
    one per-query top-k, no new shuffle)."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    probes = _ivf_query_probes(spark, sf_dir, _IVF_NPROBE)
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        assigned.join(
            F.broadcast(probes),
            (assigned["centroid_id"] == probes["centroid_id"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@register(
    "ann_multiprobe_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    iq AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assigned WHERE vec_id < {_IVF_QUERIES}),
    ivf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT iq.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY iq.query_id
                 ORDER BY {_dot_duck('iq.qemb', 'c.embedding')}
                            / SQRT(iq.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM iq JOIN assigned c
          ON c.centroid_id = iq.centroid_id AND c.vec_id <> iq.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    mp_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY {_dot_duck('qp.qemb', 'c.embedding')}
                            / SQRT(qp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM qp JOIN assigned c
          ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_IVF_QUERIES}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_IVF_K}
    )
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits_single,
           CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits_multi,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_single,
           CAST(COUNT(m.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_multi
    FROM bf_topk b
    LEFT JOIN ivf_topk i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    LEFT JOIN mp_topk m
      ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_multiprobe_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of single-probe vs multi-probe IVF on the SAME query panel
    and ground truth — the certification that turning ``nprobe`` up
    actually buys recall (and never loses any: a query's rank-1 centroid is
    always among its rank-P probes, so the multi-probe candidate set is a
    superset and recall_multi >= recall_single HOLDS BY CONSTRUCTION,
    asserted per-row in tests). Composes the three registered kernels
    (:func:`cosine_topk_bruteforce` truth, :func:`ann_ivf_bucketed`
    single-probe, :func:`ann_ivf_multiprobe` nprobe={_IVF_NPROBE})
    verbatim; deterministic neighbor_id tie-breaks make both recalls exact
    oracle-checkable numbers."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    if _N_QUERIES != _IVF_QUERIES or _TOP_K != _IVF_K:
        raise ValueError(
            f"recall panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs IVF ({_IVF_QUERIES}, k={_IVF_K}) — keep the constants equal"
        )

    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    single = (
        ann_ivf_bucketed(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit1", F.lit(1))
    )
    multi = (
        ann_ivf_multiprobe(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hitp", F.lit(1))
    )
    h1 = F.sum(F.coalesce(F.col("hit1"), F.lit(0)))
    hp = F.sum(F.coalesce(F.col("hitp"), F.lit(0)))
    return (
        bf.join(single, ["query_id", "neighbor_id"], "left")
        .join(multi, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            h1.cast("bigint").alias("hits_single"),
            hp.cast("bigint").alias("hits_multi"),
            (h1.cast("double") / _IVF_K).alias("recall_single"),
            (hp.cast("double") / _IVF_K).alias("recall_multi"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (sign) LSH ANN — the LSH-bucketed scale path
# ---------------------------------------------------------------------------

_LSH_H = 8          # hyperplanes -> 2^8 = 256 buckets
_LSH_Q = 8          # query vectors (vec_id < _LSH_Q)
_LSH_TOPK = 5

# Deterministic pseudo-random hyperplane weight for (plane h, dim i): the first
# md5 hex digit of "h|i" mapped to {-7.5 ... +7.5} — exactly representable, so
# decimal dot products are bit-identical across engines.
_HP_W_SPARK = (
    f"CAST(instr('{_HEXD}', substring(md5(CAST(CONCAT(CAST(h AS STRING), '|',"
    f" CAST(i AS STRING)) AS BINARY)), 1, 1)) - 8.5 AS DECIMAL(3,1))"
)
_HP_W_DUCK = (
    f"CAST(instr('{_HEXD}', substr(md5(CAST(h AS VARCHAR) || '|' ||"
    f" CAST(i AS VARCHAR)), 1, 1)) - 8.5 AS DECIMAL(3,1))"
)


@register(
    "ann_lsh_hyperplane",
    survey="M5-ann,M5-dedup,W1,O1",
    oracle=f"""
    WITH hp AS (
      SELECT h, i, {_HP_W_DUCK} AS w
      FROM range({_LSH_H}) t(h), range(64) u(i)
    ),
    comp AS (
      SELECT vec_id, i - 1 AS i, embedding[i] AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    sig AS (
      SELECT c.vec_id, hp.h,
             SUM(CAST(CAST(c.val AS DOUBLE) * CAST(hp.w AS DOUBLE) AS {_DEC})) AS d
      FROM comp c JOIN hp ON hp.i = c.i
      GROUP BY c.vec_id, hp.h
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN CAST(POWER(2, h) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM sig GROUP BY vec_id
    ),
    norms AS (
      SELECT vec_id, embedding,
             CAST((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {_DEC}))
                   FROM UNNEST(embedding) AS t(x)) AS DOUBLE) AS norm2
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qn.embedding', 'cn.embedding')}
               / SQRT(qn.norm2 * cn.norm2) AS cos_sim
      FROM buckets q
      JOIN buckets c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      JOIN norms qn ON qn.vec_id = q.vec_id
      JOIN norms cn ON cn.vec_id = c.vec_id
      WHERE q.vec_id < {_LSH_Q}
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_LSH_TOPK}
    """,
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: H={_LSH_H} md5-derived hyperplanes give every vector a
    2^H-bucket signature computed relationally (explode -> broadcast hyperplane
    join -> decimal sign sums — all codegen); queries probe only their own
    bucket and rank candidates by exact cosine. Complements ann_ivf_bucketed:
    LSH needs no centroid seed and its buckets are data-independent, the
    trade-off being recall on low-similarity corpora. Per-item shuffle payload
    is (vec_id, bucket) — constant bytes, the property that matters at 100 TB."""
    return _lsh_probe_topk(spark, sf_dir, multi=False)


def _lsh_buckets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket): the sign-LSH 2^H signature table — the ONE
    definition of the hyperplane→sign-sum→bucket pipeline every sign-LSH
    query derives from."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    hp = (
        spark.range(_LSH_H).toDF("h")
        .crossJoin(spark.range(64).toDF("i"))
        .withColumn("w", F.expr(_HP_W_SPARK))
    )
    comp = emb.select("vec_id", F.posexplode("embedding").alias("i", "val"))
    term = (F.col("val").cast("double") * F.col("w").cast("double")).cast(_DEC)
    sig = (
        comp.join(F.broadcast(hp), "i")
        .groupBy("vec_id", "h")
        .agg(F.sum(term).alias("d"))
    )
    return sig.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("d") > 0, F.expr("CAST(POWER(2, h) AS BIGINT)")).otherwise(0)
        ).cast("bigint").alias("bucket")
    )


def _lsh_probe_topk(
    spark: SparkSession,
    sf_dir: str,
    multi: bool,
) -> DataFrame:
    """Shared probe/score/top-k tail of the sign-LSH queries. Each caller
    re-derives the corpus signature table (:func:`_lsh_buckets_df`) — an
    r12 experiment sharing one MATERIALIZED table across both probe modes
    of the recall eval REGRESSED (see :func:`lsh_multiprobe_recall_at_k`):
    the hyperplane kernel is cheap enough that branch recomputation
    overlaps on idle cores, while the eager cut serializes the job chain.
    (A ``buckets`` injection parameter existed for that experiment; it was
    dead — every caller passed None — and was dropped, r13 ADVICE #2.)"""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    tagged = emb.join(_lsh_buckets_df(spark, sf_dir), "vec_id")
    qbase = tagged.filter(F.col("vec_id") < _LSH_Q)
    if multi:
        probe_col = F.explode(
            F.expr(
                f"concat(array(bucket), transform(sequence(0, {_LSH_H - 1}),"
                f" h -> bucket ^ shiftleft(CAST(1 AS BIGINT), h)))"
            )
        )
    else:
        probe_col = F.col("bucket")
    probes = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
        probe_col.alias("pbucket"),
    )
    dot = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        tagged.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("cos_sim", F.expr(dot) / F.sqrt(F.col("qn2") * F.col("norm2")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LSH_TOPK)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# Shared DuckDB CTE block for the sign-LSH family: hyperplanes -> per-plane
# decimal sign sums -> 2^H bucket signature, plus the exact norms table.
_LSH_BUCKETS_CTES_DUCK = f"""
    hp AS (
      SELECT h, i, {_HP_W_DUCK} AS w
      FROM range({_LSH_H}) t(h), range(64) u(i)
    ),
    comp AS (
      SELECT vec_id, i - 1 AS i, embedding[i] AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    sig AS (
      SELECT c.vec_id, hp.h,
             SUM(CAST(CAST(c.val AS DOUBLE) * CAST(hp.w AS DOUBLE) AS {_DEC})) AS d
      FROM comp c JOIN hp ON hp.i = c.i
      GROUP BY c.vec_id, hp.h
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN CAST(POWER(2, h) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM sig GROUP BY vec_id
    ),
    norms AS (
      SELECT vec_id, embedding,
             CAST((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {_DEC}))
                   FROM UNNEST(embedding) AS t(x)) AS DOUBLE) AS norm2
      FROM embeddings
    )
"""


@register(
    "ann_lsh_multiprobe",
    survey="M5-ann,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_LSH_BUCKETS_CTES_DUCK},
    probes AS (
      SELECT vec_id AS query_id, bucket AS pbucket
      FROM buckets WHERE vec_id < {_LSH_Q}
      UNION ALL
      SELECT b.vec_id, xor(b.bucket, CAST(POWER(2, h) AS BIGINT))
      FROM buckets b, range({_LSH_H}) t(h) WHERE b.vec_id < {_LSH_Q}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qn.embedding', 'cn.embedding')}
               / SQRT(qn.norm2 * cn.norm2) AS cos_sim
      FROM probes p
      JOIN buckets c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
      JOIN norms qn ON qn.vec_id = p.query_id
      JOIN norms cn ON cn.vec_id = c.vec_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_LSH_TOPK}
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: each query searches its own signature bucket
    PLUS every flip-1-bit neighbor bucket (H+1={_LSH_H + 1} probes) — the
    standard multi-probe LSH move (Lv et al. 2007): a near neighbor that
    landed on the wrong side of ONE hyperplane is exactly one Hamming bit
    away, so bit-flip probing recovers most of what single-bucket probing
    loses without adding tables. Candidates stay unique without a dedup
    pass: a corpus vector has ONE signature and a query's H+1 probed
    signatures are pairwise distinct. 100 TB shape unchanged: the probe
    list is Q x (H+1) rows broadcast to the corpus-side bucket table; the
    per-item shuffle payload is still (vec_id, bucket)."""
    return _lsh_probe_topk(spark, sf_dir, multi=True)


@register(
    "lsh_multiprobe_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_LSH_BUCKETS_CTES_DUCK},
    lsh_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_dot_duck('qn.embedding', 'cn.embedding')}
                            / SQRT(qn.norm2 * cn.norm2) DESC,
                          c.vec_id) AS rank
        FROM buckets q
        JOIN buckets c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        JOIN norms qn ON qn.vec_id = q.vec_id
        JOIN norms cn ON cn.vec_id = c.vec_id
        WHERE q.vec_id < {_LSH_Q}
      ) WHERE rank <= {_LSH_TOPK}
    ),
    probes AS (
      SELECT vec_id AS query_id, bucket AS pbucket
      FROM buckets WHERE vec_id < {_LSH_Q}
      UNION ALL
      SELECT b.vec_id, xor(b.bucket, CAST(POWER(2, h) AS BIGINT))
      FROM buckets b, range({_LSH_H}) t(h) WHERE b.vec_id < {_LSH_Q}
    ),
    mp_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {_dot_duck('qn.embedding', 'cn.embedding')}
                            / SQRT(qn.norm2 * cn.norm2) DESC,
                          c.vec_id) AS rank
        FROM probes p
        JOIN buckets c ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
        JOIN norms qn ON qn.vec_id = p.query_id
        JOIN norms cn ON cn.vec_id = c.vec_id
      ) WHERE rank <= {_LSH_TOPK}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_LSH_Q}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_LSH_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS hits_single,
           CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits_multi,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / {_LSH_TOPK} AS recall_single,
           CAST(COUNT(m.neighbor_id) AS DOUBLE) / {_LSH_TOPK} AS recall_multi
    FROM bf_topk b
    LEFT JOIN lsh_topk l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    LEFT JOIN mp_topk m
      ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def lsh_multiprobe_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of single-bucket vs flip-1-bit multi-probe sign-LSH on the
    same panel and ground truth — quantifies exactly what the extra H
    probes buy (on this corpus: single-bucket recall is near zero because
    a 2^{_LSH_H}-bucket table over a few thousand vectors starves most
    buckets; bit-flip probing recovers a measurable fraction). The probe
    set is a superset of the single bucket, so recall_multi >=
    recall_single by construction. Both probe modes score through
    :func:`_lsh_probe_topk` (one definition of the probe/score/top-k
    tail); composition is otherwise verbatim — an r12 experiment that
    materialized the corpus signature table once for both sides REGRESSED
    3.0-3.3 s -> ~4-5 s control-normalized (the hyperplane kernel is one
    broadcast join + two aggs, cheap enough that recomputation overlaps on
    idle cores while the eager cut serializes the job chain — the same
    criterion that killed the pq-d2 and copurchase materializations).
    Deterministic tie-breaks keep both recalls exact."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    if _N_QUERIES != _LSH_Q or _TOP_K != _LSH_TOPK:
        raise ValueError(
            f"recall panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs LSH ({_LSH_Q}, k={_LSH_TOPK}) — keep the constants equal"
        )

    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    single = (
        _lsh_probe_topk(spark, sf_dir, multi=False)
        .select("query_id", "neighbor_id")
        .withColumn("hit1", F.lit(1))
    )
    multi = (
        _lsh_probe_topk(spark, sf_dir, multi=True)
        .select("query_id", "neighbor_id")
        .withColumn("hitp", F.lit(1))
    )
    h1 = F.sum(F.coalesce(F.col("hit1"), F.lit(0)))
    hp = F.sum(F.coalesce(F.col("hitp"), F.lit(0)))
    return (
        bf.join(single, ["query_id", "neighbor_id"], "left")
        .join(multi, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            h1.cast("bigint").alias("hits_single"),
            hp.cast("bigint").alias("hits_multi"),
            (h1.cast("double") / _LSH_TOPK).alias("recall_single"),
            (hp.cast("double") / _LSH_TOPK).alias("recall_multi"),
        )
    )


@register(
    "kmeans_update_step",
    survey="M5-ann,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    comp AS (
      SELECT a.centroid_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM assigned a, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT centroid_id, pos,
           COUNT(*) AS n,
           {_mean_duck('val')} AS new_val
    FROM comp GROUP BY 1, 2
    """,
)
def kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's-algorithm update: assign every vector to its nearest
    centroid (the IVF assignment kernel), then recompute each centroid as the
    per-dimension mean of its cluster. Iterating this operator IS k-means; a
    driver loop would re-seed the centroid table from this output and repeat.

    100 TB shape: assignment is the proven broadcast-join kernel; the update
    is one hash agg over (centroid, dim) — C x dim cells, each a
    floor-scaled fixed-point mean (see _MEAN_SCALE: bit-deterministic
    across engines, unlike a double->DECIMAL cast whose midpoint rounding
    differs), so the new centroid table is tiny and deterministic. No vector ever moves
    between executors more than once per iteration."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    comp = assigned.select(
        "centroid_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    return comp.groupBy("centroid_id", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.expr(_mean_term_spark("val"))).cast("double")
            / _MEAN_SCALE
            / F.count(F.lit(1))
        ).alias("new_val"),
    )


# ---------------------------------------------------------------------------
# Trained coarse quantizer: k-means = kmeans_update_step iterated by a
# driver loop (the train_bpe_merges pattern — k Spark jobs, one tiny table
# back to the driver-side lineage per round, oracle re-derives the loop as
# unrolled CTEs).
#
# ---------------------------------------------------------------------------

_KM_ITERS = 3  # Lloyd's iterations for the certified trained quantizer


def train_kmeans(
    vectors: DataFrame,
    n_centroids: int = _IVF_C,
    n_iters: int = _KM_ITERS,
    sample_stride: int = 1,
    norms: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means over ``vectors`` (vec_id, embedding): seed = first
    ``n_centroids`` vec_ids (the training-free convention every first-C
    kernel here uses, so ``n_iters=0`` IS that convention), then
    ``n_iters`` update rounds, each one :func:`kmeans_update_step` shape —
    assign every vector to its nearest centroid (cosine, the fixed-point
    argmax kernel), recompute each centroid as the floor-scaled
    fixed-point per-dimension mean of its cluster (_MEAN_SCALE), keep a centroid unchanged if its
    cluster went empty (the standard Lloyd's convention). Returns
    (centroid_id, cemb array<double>).

    100 TB shape: the corpus is scanned once per iteration (assignment =
    the proven broadcast-join kernel, update = one hash agg to C x dim
    cells); the only thing that crosses iterations is the C-row centroid
    table, ``localCheckpoint``-ed so iteration N's plan never replays
    iterations 1..N-1 — exactly how ``train_bpe_merges`` bounds its
    lineage. FAISS trains its coarse quantizer the same way (few Lloyd's
    rounds over a sample); here the "sample" defaults to the full test
    corpus so the DuckDB oracle can re-derive training bit-for-bit.

    ``sample_stride > 1`` is the 100 TB path: train on the deterministic
    subset ``vec_id % stride == 0`` (seeds always included, so the seed is
    identical to unsampled training), exactly FAISS's train-on-a-sample
    contract — k-means centroids estimated from max(256*C, ~1M)-ish
    vectors are statistically indistinguishable from full-corpus training,
    and each Lloyd's iteration scans corpus/stride instead of the corpus.
    The FINAL assignment (callers do it) still covers every vector. The
    stride predicate is SQL-expressible, so sampled training stays fully
    oracle-certifiable (``ann_ivf_trained_sampled``).

    ``norms`` — optional precomputed materialized (vec_id, norm2) frame
    (:func:`_corpus_norms`); callers that also assign the full corpus after
    training pass one shared table so the iteration-invariant norm agg runs
    once per QUERY, not once per training call plus once per final
    assignment (r12, guide §2.4)."""
    return _train_kmeans_history(
        _train_sample(vectors, n_centroids, sample_stride),
        n_centroids,
        n_iters,
        norms=norms,
    )[-1]


def _train_sample(
    vectors: DataFrame, n_centroids: int, sample_stride: int
) -> DataFrame:
    """The deterministic training sample: every ``sample_stride``-th
    vec_id plus the first ``n_centroids`` (the seed must be stride-
    invariant so sampled and unsampled training start identically)."""
    if sample_stride <= 1:
        return vectors
    return vectors.filter(
        (F.col("vec_id") < n_centroids)
        | (F.col("vec_id") % sample_stride == 0)
    )


def _corpus_norms(vectors: DataFrame) -> DataFrame:
    """Materialized (vec_id, norm2 double) for ``vectors`` (vec_id,
    embedding): the exploded codegen DECIMAL hash agg — exactly the norm2
    :func:`assign_to_centroids` derives itself (same 12-dp x^2 terms,
    order-independent decimal sum, so values are bit-identical to the
    per-row ``aggregate()`` fold too). Computed once and localCheckpoint-ed
    (N x 16 bytes — the guide-§8 lightweight proxy) so every assignment,
    training iteration, and eval side of one query shares a single norm
    pass instead of re-aggregating the corpus per consumer (r12, §2.4).
    ``fan_out`` keeps the ×dim exploded agg off a single scan task (r13)."""
    ex = fan_out(vectors).select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    )
    sq = F.expr(f"CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS {_DEC})")
    return materialize(
        ex.groupBy("vec_id").agg(F.sum(sq).cast("double").alias("norm2"))
    )


def _train_kmeans_history(
    vectors: DataFrame,
    n_centroids: int = _IVF_C,
    n_iters: int = _KM_ITERS,
    norms: DataFrame | None = None,
    keep_assignments: bool = False,
):
    """:func:`train_kmeans` returning every intermediate centroid table
    [cent0 .. cent{n_iters}] — cent0 is the seed, cent{n} the table after
    n Lloyd's updates.

    ``keep_assignments=True`` additionally MATERIALIZES each round's
    (vec_id, centroid_id) assignment table and returns
    ``(history, assignments)`` where ``assignments[n]`` is the corpus
    assigned against ``history[n]`` (n < n_iters). Lloyd's already derives
    exactly these frames to compute the round's means; a caller that also
    evaluates per-iteration quality (``kmeans_distortion_report``) was
    re-running the whole N x C fixed-point argmax a second time per
    iteration (r12, guide §2.4 — the assignment agg is the expensive
    subtree; the materialized frame is N x 8 bytes). The means pass reads
    the cached frame, so training itself keeps the same corpus-pass count.

    The per-round state that crosses iterations is C x dim doubles (~1k
    values here, a few MB at any realistic C) — so each round COLLECTS the
    new means to the driver and feeds the next round a LITERAL centroid
    frame, the classic Lloyd's driver loop and the same bounded-collect
    discipline as ``train_bpe_merges`` (one tiny table per step, never
    anything corpus-sized; an earlier executor-side localCheckpoint chain
    accumulated one RDD per round per invocation). The collected doubles
    round-trip exactly (Python floats ARE doubles), so oracle parity is
    unaffected. The remaining cost is the honest one — one assignment
    scan + one means scan per iteration (the r11 HOF-norm fix in
    ``assign_to_centroids`` took the trained queries from 34-54 s to
    9-16 s med3 at sf0.1; what's left is k corpus scans, which IS Lloyd's
    at any scale)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from pyspark_cdc_engine.checkpointing import materialize
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )
    from pyspark_cdc_engine.operators.registry import literal_frame

    spark = vectors.sparkSession
    schema = StructType(
        [
            StructField("centroid_id", IntegerType(), False),
            StructField("cemb", ArrayType(DoubleType(), False), False),
        ]
    )

    def literal(cent_map: dict[int, list[float]]) -> DataFrame:
        rows = [(cid, cent_map[cid]) for cid in sorted(cent_map)]
        return literal_frame(spark, rows, schema)

    vecs = vectors.select("vec_id", "embedding")
    seed_rows = vecs.orderBy("vec_id").limit(n_centroids).collect()
    cent_map = {
        i: [float(x) for x in r["embedding"]]
        for i, r in enumerate(seed_rows)
    }
    history = [literal(cent_map)]
    if n_iters <= 0:
        return (history, []) if keep_assignments else history
    # Norms are iteration-invariant: compute the (vec_id, norm2) table ONCE
    # and feed every round's assignment, instead of re-aggregating the same
    # corpus-scan norm per iteration (r12, guide §2.4 — one shared pass; the
    # materialized table is N x 16 bytes, the guide-§8 lightweight proxy).
    # Exactly the norm2 assign_to_centroids would derive itself: same
    # exploded 12-dp decimal sum, so assignments are bit-identical. Callers
    # pass a precomputed table (possibly covering a superset of vec_ids —
    # the assignment join aligns on vec_id) to share it with their final
    # full-corpus assignment and eval sides.
    if norms is None:
        norms = _corpus_norms(vecs)
    ex = vecs.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    assignments: list[DataFrame] = []
    for _ in range(n_iters):
        assigned = assign_to_centroids(vecs, history[-1], norms=norms)
        if keep_assignments:
            assigned = materialize(assigned)
            assignments.append(assigned)
        means = (
            ex.join(assigned, "vec_id")
            .withColumn("val", F.col("val").cast("double"))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(F.expr(_mean_term_spark("val"))).cast("double")
                    / _MEAN_SCALE
                    / F.count(F.lit(1))
                ).alias("cval")
            )
            .collect()  # bounded: C x dim cells
        )
        new_map = dict(cent_map)  # keep-old for empty clusters
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = r["cval"]
        for cid, dims in by_cid.items():
            new_map[cid] = [dims[p] for p in sorted(dims)]
        cent_map = new_map
        history.append(literal(cent_map))
    if keep_assignments:
        return history, assignments
    return history


def _kmeans_ctes_duck(n_iters: int = _KM_ITERS, train_src: str = "norms") -> str:
    """DuckDB re-derivation of :func:`train_kmeans` as an unrolled CTE
    chain (requires ``norms`` from ``_NORMS_CTE_DUCK`` in scope): cent0 =
    first-C seed cast to double, each round one fixed-point-argmax
    assignment + floor-scaled fixed-point per-dim mean + keep-old-on-empty — the same
    total order and the same arithmetic as the Spark loop, so the trained
    centroids (and everything downstream of them) certify rank-for-rank.
    Also emits ``tassign_scored`` / ``tassigned``: the final assignment of
    EVERY ``norms`` vector against the TRAINED centroids, mirroring
    ``_ASSIGN_CTE_DUCK``'s shape so search queries read identically.
    ``train_src`` names the CTE the TRAINING loop reads (default: the full
    ``norms``) — the incremental scenario trains on a base-subset CTE
    while the final assignment still covers the whole corpus, exactly the
    build-then-fold split of ``IncrementalIvfIndex(train_iters=N)``."""
    parts = [
        f"""
    cent0 AS MATERIALIZED (
      SELECT vec_id AS centroid_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb,
             norm2 AS cn2
      FROM {train_src} WHERE vec_id < {_IVF_C})"""
    ]
    for n in range(n_iters):
        parts.append(
            f""",
    kasg{n} AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM (
        SELECT n.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY CAST({_idot_duck('n.embedding', 'c.cemb')} AS DOUBLE)
                            / SQRT(n.norm2 * c.cn2) DESC,
                          c.centroid_id) AS rn
        FROM {train_src} n CROSS JOIN cent{n} c
      ) WHERE rn = 1
    ),
    kmean{n} AS MATERIALIZED (
      SELECT a.centroid_id, i - 1 AS pos,
             {_mean_duck('v.embedding[i]')} AS cval
      FROM kasg{n} a JOIN {train_src} v USING (vec_id),
           UNNEST(range(1, len(v.embedding) + 1)) AS t(i)
      GROUP BY 1, 2
    ),
    cent{n + 1} AS MATERIALIZED (
      SELECT p.centroid_id,
             COALESCE(m.cemb, p.cemb) AS cemb,
             CAST((SELECT SUM(CAST(x * x AS {_DEC}))
                   FROM UNNEST(COALESCE(m.cemb, p.cemb)) AS t(x)) AS DOUBLE)
               AS cn2
      FROM cent{n} p LEFT JOIN (
        SELECT centroid_id, list(cval ORDER BY pos) AS cemb
        FROM kmean{n} GROUP BY centroid_id) m USING (centroid_id)
    )"""
        )
    parts.append(
        f""",
    tassign_scored AS MATERIALIZED (
      SELECT n.vec_id, n.embedding, n.norm2, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id
               ORDER BY CAST({_idot_duck('n.embedding', 'c.cemb')} AS DOUBLE)
                          / SQRT(n.norm2 * c.cn2) DESC,
                        c.centroid_id) AS rn
      FROM norms n CROSS JOIN cent{n_iters} c
    ),
    tassigned AS (SELECT vec_id, embedding, norm2, centroid_id
                  FROM tassign_scored WHERE rn = 1)"""
    )
    return "".join(parts)


def _probes_vs_centroids(
    q: DataFrame, cents: DataFrame, nprobe: int
) -> DataFrame:
    """(query_id, qemb, qn2, centroid_id): each query row of ``q``
    (query_id, qemb, qn2) paired with its ``nprobe`` nearest centroids
    from an EXPLICIT centroid frame (centroid_id, cemb) — the trained-
    centroid generalization of :func:`_ivf_query_probes`, same fixed-point
    window ranking. The probe table stays Q x P rows, always broadcast."""
    cex = cents.select(
        "centroid_id",
        F.expr(f"CAST({_norm2_dec('cemb')} AS DOUBLE)").alias("cn2"),
        F.posexplode("cemb").alias("pos", "cval"),
    )
    ex = q.select("query_id", "qn2", F.posexplode("qemb").alias("pos", "val"))
    term = F.expr(
        f"CAST(floor(CAST(val AS DOUBLE) * CAST(cval AS DOUBLE)"
        f" * {_IDOT_SCALE}) AS BIGINT)"
    )
    dots = (
        ex.join(F.broadcast(cex), "pos")
        .groupBy("query_id", "centroid_id")
        .agg(
            F.sum(term).cast("double").alias("dot"),
            F.first("qn2").alias("qn2"),
            F.first("cn2").alias("cn2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        (F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2"))).desc(),
        F.col("centroid_id"),
    )
    probes = (
        dots.withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "centroid_id")
    )
    return q.join(probes, "query_id")


@register(
    "ann_ivf_trained",
    survey="M5-ann,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_kmeans_ctes_duck(_KM_ITERS)},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM tassign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    scored AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qp.qemb', 'c.embedding')} / SQRT(qp.qn2 * c.norm2)
               AS cos_sim
      FROM qp JOIN tassigned c
        ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe IVF ANN over a TRAINED coarse quantizer: {_KM_ITERS}
    Lloyd's iterations of :func:`train_kmeans` replace the first-C seed
    every other IVF kernel here uses, then the usual nprobe={_IVF_NPROBE}
    search (rank-P probes per query, inverted-list candidates,
    exact-decimal cosine re-rank). The oracle re-derives the ENTIRE
    training loop as unrolled CTEs — both engines train from scratch under
    the same argmax/mean arithmetic, so a hash match certifies the trainer
    itself, not just the search. Recall lift over the untrained seed is
    measured by ``ann_trained_recall_at_k``."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    vecs = emb.select("vec_id", "embedding")
    # one shared materialized norm table for training AND the final
    # assignment (r12, guide §2.4 — the norm agg is input-invariant)
    norms = _corpus_norms(vecs)
    cents = train_kmeans(vecs, _IVF_C, _KM_ITERS, norms=norms)
    assigned = emb.join(assign_to_centroids(vecs, cents, norms=norms), "vec_id")
    q = emb.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
    )
    probes = _probes_vs_centroids(q, cents, _IVF_NPROBE)
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        assigned.join(
            F.broadcast(probes),
            (assigned["centroid_id"] == probes["centroid_id"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2"))
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@register(
    "ann_trained_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    {_kmeans_ctes_duck(_KM_ITERS)},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    fc_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY {_dot_duck('qp.qemb', 'c.embedding')}
                            / SQRT(qp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM qp JOIN assigned c
          ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    tqp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
            FROM tassign_scored
            WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    tr_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT tqp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY tqp.query_id
                 ORDER BY {_dot_duck('tqp.qemb', 'c.embedding')}
                            / SQRT(tqp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM tqp JOIN tassigned c
          ON c.centroid_id = tqp.centroid_id AND c.vec_id <> tqp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_IVF_QUERIES}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_IVF_K}
    )
    SELECT b.query_id,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS hits_firstc,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits_trained,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_firstc,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_trained
    FROM bf_topk b
    LEFT JOIN fc_topk f
      ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
    LEFT JOIN tr_topk t
      ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED coarse quantizer vs the first-C seed, same
    query panel and brute-force ground truth — the FAISS-style measurement
    that must accompany any quantizer change. Measured honestly: on THIS
    panel the first-C seed wins slightly (37 vs 32 hits/40 at sf0.01, 40
    vs 39 at sf0.1) because the 8 panel queries ARE first-C seed centroids
    — each query's rank-1 probe is its own bucket, an oracle-like
    quantizer for exactly those queries. Training optimizes DISTORTION
    (``kmeans_distortion_report`` certifies the monotone improvement),
    which generalizes to arbitrary queries; the seed's panel edge does
    not. ``ann_trained_recall_heldout`` is the eval that CAN show
    generalization — a panel disjoint from the seeds, where the trained
    quantizer wins (20 vs 17 hits/40 at sf0.01) — keep this query for the
    by-construction contrast it documents.

    Plan shape (r12, guide §2.4): identical structure to
    :func:`ann_trained_recall_heldout` with the panel at ``vec_id <
    {_IVF_QUERIES}`` — one materialized corpus norm table shared by the
    brute-force side, the trained training loop, and the trained
    assignment, and one inverted-list search tail
    (:func:`_multiprobe_topk`) run for both quantizers. The previous
    formulation composed :func:`cosine_topk_bruteforce` /
    :func:`ann_ivf_multiprobe` / :func:`ann_ivf_trained` verbatim, so the
    corpus norm agg ran once per side and the brute-force dot was the
    interpreted per-pair HOF fold (the r11 lesson); every ranking input is
    the same order-independent decimal/fixed-point sum, so all four output
    numbers are bit-identical to the composed form and the oracle is
    unchanged."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )
    from pyspark_cdc_engine.operators.vectors import _N_QUERIES, _TOP_K

    if _N_QUERIES != _IVF_QUERIES or _TOP_K != _IVF_K:
        raise ValueError(
            f"recall panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs IVF ({_IVF_QUERIES}, k={_IVF_K}) — keep the constants equal"
        )

    emb = load_table(spark, sf_dir, "embeddings")
    panel = F.col("vec_id") < _IVF_QUERIES

    # fan only the brute-force side's exploded-decimal subtree — the one
    # measured-heavy single-task stage here; the fixed-point assignment
    # loops are job-count-bound and regress under fanning (r13, guide §1.1)
    ex = fan_out(emb).select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    norms = _corpus_norms(emb)
    embn = emb.join(norms, "vec_id")

    q = embn.filter(panel).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
    )

    # brute-force ground truth: exploded panel broadcast against the
    # exploded corpus, exact-decimal dot per (neighbor, query) pair
    qex = ex.filter(panel).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("val").alias("qval")
    )
    bf_term = F.expr(
        f"CAST(CAST(val AS DOUBLE) * CAST(qval AS DOUBLE) AS {_DEC})"
    )
    qn = norms.filter(panel).select(
        F.col("vec_id").alias("query_id"), F.col("norm2").alias("qn2")
    )
    bf_dots = (
        ex.join(F.broadcast(qex), "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("vec_id", "query_id")
        .agg(F.sum(bf_term).cast("double").alias("dot"))
    )
    w_bf = Window.partitionBy("query_id").orderBy(
        (F.col("dot") / F.sqrt(F.col("qn2") * F.col("norm2"))).desc(),
        F.col("vec_id"),
    )
    bf = (
        bf_dots.join(norms, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn("rank", F.row_number().over(w_bf))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # The ground truth is training-independent: materialize it on a driver
    # thread so its wall hides behind the serial Lloyd's collects below
    # (guide §2.6 — overlap independent jobs; r13). Output is panel×k rows.
    bf_async = materialize_async(bf)
    try:
        # first-C search: the untrained-seed assignment every IVF kernel uses
        assigned_fc = _ivf_assigned_df(spark, sf_dir)
        cents_fc = emb.filter(F.col("vec_id") < _IVF_C).select(
            F.col("vec_id").alias("centroid_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cemb"),
        )
        fc = _multiprobe_topk(
            assigned_fc, _probes_vs_centroids(q, cents_fc, _IVF_NPROBE)
        ).withColumn("hitf", F.lit(1))

        # trained search: same Lloyd's training as ann_ivf_trained, sharing the
        # materialized norm table with the brute-force side above
        vecs = emb.select("vec_id", "embedding")
        cents_tr = train_kmeans(vecs, _IVF_C, _KM_ITERS, norms=norms)
        assigned_tr = embn.join(
            assign_to_centroids(vecs, cents_tr, norms=norms), "vec_id"
        )
        tr = _multiprobe_topk(
            assigned_tr, _probes_vs_centroids(q, cents_tr, _IVF_NPROBE)
        ).withColumn("hitt", F.lit(1))

        hf = F.sum(F.coalesce(F.col("hitf"), F.lit(0)))
        ht = F.sum(F.coalesce(F.col("hitt"), F.lit(0)))
        bf = bf_async()
    finally:
        bf_async.cancel()
    return (
        bf.join(fc, ["query_id", "neighbor_id"], "left")
        .join(tr, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hf.cast("bigint").alias("hits_firstc"),
            ht.cast("bigint").alias("hits_trained"),
            (hf.cast("double") / _IVF_K).alias("recall_firstc"),
            (ht.cast("double") / _IVF_K).alias("recall_trained"),
        )
    )


_KM_STRIDE = 4  # deterministic training-sample stride for the sampled trainer
_KSAMPLE_CTE = (
    f"ksample AS (SELECT * FROM norms WHERE vec_id < {_IVF_C}"
    f" OR vec_id % {_KM_STRIDE} = 0)"
)


@register(
    "ann_ivf_trained_sampled",
    survey="M5-ann,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_KSAMPLE_CTE},
    {_kmeans_ctes_duck(_KM_ITERS, train_src="ksample")},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM tassign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    scored AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qp.qemb', 'c.embedding')} / SQRT(qp.qn2 * c.norm2)
               AS cos_sim
      FROM qp JOIN tassigned c
        ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_trained_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_ivf_trained` with SAMPLE-based training — the 100 TB
    quantizer-training path (r11 verdict: full-corpus Lloyd's scans the
    corpus per iteration; FAISS trains on a bounded sample). Training
    reads only ``vec_id % {_KM_STRIDE} == 0`` plus the seeds (a
    deterministic, SQL-expressible stand-in for FAISS's random
    max(256*C)-vector subsample), so each of the {_KM_ITERS} iterations
    scans corpus/{_KM_STRIDE}; the final assignment and the
    nprobe={_IVF_NPROBE} search still cover every vector. The oracle
    re-derives sampled training as unrolled CTEs over the same subset —
    identical argmax/mean arithmetic, so the hash certifies the sampled
    trainer end-to-end. Quality retention vs the seed is certified by
    ``kmeans_sampled_quality``."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    vecs = emb.select("vec_id", "embedding")
    # shared norm table across sampled training + full final assignment
    # (the sampled trainer's vec_id join simply reads a subset of it)
    norms = _corpus_norms(vecs)
    cents = train_kmeans(
        vecs, _IVF_C, _KM_ITERS, sample_stride=_KM_STRIDE, norms=norms
    )
    assigned = emb.join(assign_to_centroids(vecs, cents, norms=norms), "vec_id")
    q = emb.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
    )
    probes = _probes_vs_centroids(q, cents, _IVF_NPROBE)
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        assigned.join(
            F.broadcast(probes),
            (assigned["centroid_id"] == probes["centroid_id"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2"))
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


@register(
    "kmeans_sampled_quality",
    survey="M5-ann,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    {_KSAMPLE_CTE},
    {_kmeans_ctes_duck(_KM_ITERS, train_src="ksample")},
    seed_sim AS (
      SELECT {_dot_duck('a.embedding', 'c.cemb')} / SQRT(a.norm2 * c.cn2)
        AS sim
      FROM assigned a JOIN cents c USING (centroid_id)),
    tr_sim AS (
      SELECT {_dot_duck('a.embedding', 'c.cemb')} / SQRT(a.norm2 * c.cn2)
        AS sim
      FROM tassigned a JOIN cent{_KM_ITERS} c USING (centroid_id))
    SELECT CAST((SELECT COUNT(*) FROM ksample) AS BIGINT) AS n_train,
           CAST((SELECT COUNT(*) FROM norms) AS BIGINT) AS n_vectors,
           (SELECT CAST(SUM(CAST(sim AS {_DEC})) AS DOUBLE) / COUNT(*)
            FROM seed_sim) AS mean_sim_seed,
           (SELECT CAST(SUM(CAST(sim AS {_DEC})) AS DOUBLE) / COUNT(*)
            FROM tr_sim) AS mean_sim_sampled
    """,
)
def kmeans_sampled_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus distortion of the SAMPLE-trained quantizer vs the
    untrained seed — the honesty check that must accompany
    ``ann_ivf_trained_sampled``: training on corpus/{_KM_STRIDE} vectors
    must still improve mean assigned-centroid cosine over the WHOLE
    corpus (FAISS's empirical claim for its train-on-a-sample default).
    One row: (n_train, n_vectors, mean_sim_seed, mean_sim_sampled), every
    mean an exact-decimal sum so both engines agree to the bit."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    vecs = emb.select("vec_id", "embedding")
    dot_vc = _DOT_DEC_SPARK.format(a="embedding", b="cemb")

    def mean_sim(assigned: DataFrame, cents: DataFrame, out: str) -> DataFrame:
        cn = cents.withColumn(
            "cn2", F.expr(f"CAST({_norm2_dec('cemb')} AS DOUBLE)")
        )
        sims = assigned.join(F.broadcast(cn), "centroid_id").withColumn(
            "sim", F.expr(dot_vc) / F.sqrt(F.col("norm2") * F.col("cn2"))
        )
        return sims.agg(
            (
                F.sum(F.col("sim").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias(out)
        )

    # one materialized norm pass feeds the seed assignment, the sampled
    # training loop, and the trained assignment (r12, guide §2.4)
    norms = _corpus_norms(vecs)
    cents_seed = _train_kmeans_history(vecs, _IVF_C, 0)[-1]
    seed_assigned = emb.join(
        assign_to_centroids(vecs, cents_seed, norms=norms), "vec_id"
    )
    cents_tr = train_kmeans(
        vecs, _IVF_C, _KM_ITERS, sample_stride=_KM_STRIDE, norms=norms
    )
    tr_assigned = emb.join(assign_to_centroids(vecs, cents_tr, norms=norms), "vec_id")

    counts = _train_sample(vecs, _IVF_C, _KM_STRIDE).agg(
        F.count(F.lit(1)).alias("n_train")
    ).crossJoin(vecs.agg(F.count(F.lit(1)).alias("n_vectors")))
    return (
        counts.crossJoin(mean_sim(seed_assigned, cents_seed, "mean_sim_seed"))
        .crossJoin(mean_sim(tr_assigned, cents_tr, "mean_sim_sampled"))
        .select("n_train", "n_vectors", "mean_sim_seed", "mean_sim_sampled")
    )


# Held-out evaluation panel for the trained quantizer: the _IVF_QUERIES
# vectors immediately AFTER the seed range, so the panel is disjoint from
# the first-C seed centroids by construction (r11 verdict #3: the shared
# panel IS the seed set, which hands the untrained quantizer an oracle-like
# edge on exactly those queries and can't show generalization).
_HELD_LO = _IVF_C
_HELD_HI = _IVF_C + _IVF_QUERIES


def _multiprobe_topk(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """(query_id, neighbor_id): top-{_IVF_K} inverted-list search given an
    assignment table (vec_id, embedding, norm2, centroid_id) and a probe
    table (query_id, qemb, qn2, centroid_id) — the shared search tail of
    :func:`ann_ivf_multiprobe` / :func:`ann_ivf_trained`, factored so the
    recall evals run first-C and trained through ONE search definition."""
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        assigned.join(
            F.broadcast(probes),
            (assigned["centroid_id"] == probes["centroid_id"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2"))
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id")
    )


@register(
    "ann_trained_recall_heldout",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    {_kmeans_ctes_duck(_KM_ITERS)},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assign_scored
           WHERE vec_id >= {_HELD_LO} AND vec_id < {_HELD_HI}
             AND rn <= {_IVF_NPROBE}),
    fc_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY {_dot_duck('qp.qemb', 'c.embedding')}
                            / SQRT(qp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM qp JOIN assigned c
          ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    tqp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
            FROM tassign_scored
            WHERE vec_id >= {_HELD_LO} AND vec_id < {_HELD_HI}
              AND rn <= {_IVF_NPROBE}),
    tr_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT tqp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY tqp.query_id
                 ORDER BY {_dot_duck('tqp.qemb', 'c.embedding')}
                            / SQRT(tqp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM tqp JOIN tassigned c
          ON c.centroid_id = tqp.centroid_id AND c.vec_id <> tqp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id >= {_HELD_LO} AND q.vec_id < {_HELD_HI}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_IVF_K}
    )
    SELECT b.query_id,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS hits_firstc,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits_trained,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_firstc,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall_trained
    FROM bf_topk b
    LEFT JOIN fc_topk f
      ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
    LEFT JOIN tr_topk t
      ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_trained_recall_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_IVF_K} of the trained vs first-C coarse quantizer on a
    HELD-OUT query panel (vec_ids {_HELD_LO}..{_HELD_HI - 1}) disjoint
    from the seed centroids — the generalization measurement
    ``ann_trained_recall_at_k`` structurally cannot make (its panel IS the
    seed set, so each of its queries' rank-1 probe is its own bucket).
    Here neither quantizer has seen the queries as centroids, so the
    recall difference reflects partition quality alone — the number that
    justifies (or indicts) training for arbitrary future queries, with
    ``kmeans_distortion_report`` as the corpus-wide objective. Both
    searches share one inverted-list tail (:func:`_multiprobe_topk`);
    ground truth is the exact-decimal brute-force top-{_IVF_K} over the
    same panel. The oracle re-derives the full training loop as unrolled
    CTEs, so a hash match certifies trainer + both searches + the eval
    join in one number set."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    panel = (F.col("vec_id") >= _HELD_LO) & (F.col("vec_id") < _HELD_HI)

    # norms via the exploded codegen hash agg (the r11 HOF-norm lesson:
    # interpreted aggregate() folds re-evaluate per exploded row),
    # MATERIALIZED: this frame feeds the brute-force side twice, the panel
    # frame, the trained training loop, and the trained assignment — five
    # consumers each re-ran the corpus norm agg before (r12, guide §2.4)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    norms = _corpus_norms(emb)
    embn = emb.join(norms, "vec_id")

    q = embn.filter(panel).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
    )

    # brute-force ground truth: 8 exploded queries broadcast against the
    # exploded corpus, exact-decimal dot per (neighbor, query) pair
    qex = ex.filter(panel).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("val").alias("qval")
    )
    bf_term = F.expr(
        f"CAST(CAST(val AS DOUBLE) * CAST(qval AS DOUBLE) AS {_DEC})"
    )
    qn = norms.filter(panel).select(
        F.col("vec_id").alias("query_id"), F.col("norm2").alias("qn2")
    )
    bf_dots = (
        ex.join(F.broadcast(qex), "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("vec_id", "query_id")
        .agg(F.sum(bf_term).cast("double").alias("dot"))
    )
    w_bf = Window.partitionBy("query_id").orderBy(
        (F.col("dot") / F.sqrt(F.col("qn2") * F.col("norm2"))).desc(),
        F.col("vec_id"),
    )
    bf = (
        bf_dots.join(norms, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn("rank", F.row_number().over(w_bf))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # The ground truth is training-independent: materialize it on a driver
    # thread so its wall hides behind the serial Lloyd's collects below
    # (guide §2.6 — overlap independent jobs; r13). Output is panel×k rows.
    bf_async = materialize_async(bf)
    try:
        # first-C search: the untrained-seed assignment every IVF kernel uses,
        # probes ranked against the same first-C centroid frame
        assigned_fc = _ivf_assigned_df(spark, sf_dir)
        cents_fc = emb.filter(F.col("vec_id") < _IVF_C).select(
            F.col("vec_id").alias("centroid_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("cemb"),
        )
        fc = _multiprobe_topk(
            assigned_fc, _probes_vs_centroids(q, cents_fc, _IVF_NPROBE)
        ).withColumn("hitf", F.lit(1))

        # trained search: same Lloyd's training as ann_ivf_trained, sharing the
        # materialized norm table with the brute-force side above
        vecs = emb.select("vec_id", "embedding")
        cents_tr = train_kmeans(vecs, _IVF_C, _KM_ITERS, norms=norms)
        assigned_tr = embn.join(
            assign_to_centroids(vecs, cents_tr, norms=norms), "vec_id"
        )
        tr = _multiprobe_topk(
            assigned_tr, _probes_vs_centroids(q, cents_tr, _IVF_NPROBE)
        ).withColumn("hitt", F.lit(1))

        hf = F.sum(F.coalesce(F.col("hitf"), F.lit(0)))
        ht = F.sum(F.coalesce(F.col("hitt"), F.lit(0)))
        bf = bf_async()
    finally:
        bf_async.cancel()
    return (
        bf.join(fc, ["query_id", "neighbor_id"], "left")
        .join(tr, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hf.cast("bigint").alias("hits_firstc"),
            ht.cast("bigint").alias("hits_trained"),
            (hf.cast("double") / _IVF_K).alias("recall_firstc"),
            (ht.cast("double") / _IVF_K).alias("recall_trained"),
        )
    )


def _kmeans_distortion_oracle(n_iters: int = _KM_ITERS) -> str:
    """DuckDB oracle for :func:`kmeans_distortion_report`: one row per
    training iteration, mean exact-decimal cosine of every vector to its
    assigned centroid — iteration n reads the kasg{{n}}/cent{{n}} CTEs the
    kmeans chain already materializes (tassigned for the final table)."""
    parts = []
    for n in range(n_iters + 1):
        asg = (
            f"kasg{n}"
            if n < n_iters
            else "(SELECT vec_id, centroid_id FROM tassigned)"
        )
        parts.append(
            f"""
      SELECT CAST({n} AS INT) AS iter,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(CAST(sim AS {_DEC})) AS DOUBLE) / COUNT(*) AS mean_sim
      FROM (
        SELECT {_dot_duck('v.embedding', 'c.cemb')} / SQRT(v.norm2 * c.cn2)
          AS sim
        FROM {asg} a
        JOIN norms v USING (vec_id)
        JOIN cent{n} c USING (centroid_id)
      )"""
        )
    return (
        f"WITH {_NORMS_CTE_DUCK}, {_kmeans_ctes_duck(n_iters)}"
        + " UNION ALL ".join(parts)
    )


@register(
    "kmeans_distortion_report",
    survey="M5-ann,A2,U2,beyond-ref",
    oracle=_kmeans_distortion_oracle(_KM_ITERS),
)
def kmeans_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration quantizer quality of :func:`train_kmeans`: mean
    cosine similarity of every corpus vector to its assigned centroid,
    one row per Lloyd's iteration 0..{_KM_ITERS} (0 = the untrained
    first-C seed). This is the objective k-means actually improves —
    Lloyd's monotonicity means mean_sim rises (or holds) every iteration,
    asserted in tests — and the number that justifies training even where
    the 8-query panel recall (``ann_trained_recall_at_k``) doesn't move:
    lower distortion is what generalizes to arbitrary future queries.
    Exact-decimal cosines and sums keep all {_KM_ITERS + 1} means
    oracle-checkable to the bit. Scale shape: one assignment broadcast
    join + one hash agg per iteration — the training run's own cost
    profile, nothing extra."""
    from pyspark_cdc_engine.operators.ann_incremental import (
        assign_to_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm2", F.expr(f"CAST({_norm2_dec('embedding')} AS DOUBLE)")
    )
    vecs = emb.select("vec_id", "embedding")
    # one materialized norm pass shared by the training loop and all
    # {_KM_ITERS}+1 per-iteration distortion assignments (r12, guide §2.4 —
    # each eval previously re-aggregated the corpus norm independently)
    norms = _corpus_norms(vecs)
    # keep_assignments: training already derives assignments for
    # history[0..K-1] to compute each round's means — reuse the materialized
    # frames for those iterations' distortion evals instead of re-running
    # the N x C argmax per iteration (r12, guide §2.4); only the FINAL
    # centroid table's assignment is new work here.
    history, assigns = _train_kmeans_history(
        vecs, _IVF_C, _KM_ITERS, norms=norms, keep_assignments=True
    )
    dot_vc = _DOT_DEC_SPARK.format(a="embedding", b="cemb")
    parts = []
    for it, cents in enumerate(history):
        cn = cents.withColumn(
            "cn2", F.expr(f"CAST({_norm2_dec('cemb')} AS DOUBLE)")
        )
        asg = (
            assigns[it]
            if it < len(assigns)
            else assign_to_centroids(vecs, cents, norms=norms)
        )
        sims = (
            emb.join(asg, "vec_id")
            .join(F.broadcast(cn), "centroid_id")
            .withColumn(
                "sim",
                F.expr(dot_vc) / F.sqrt(F.col("norm2") * F.col("cn2")),
            )
        )
        parts.append(
            sims.agg(
                F.lit(it).cast("int").alias("iter"),
                F.count(F.lit(1)).alias("n_vectors"),
                (
                    F.sum(F.col("sim").cast(_DEC)).cast("double")
                    / F.count(F.lit(1))
                ).alias("mean_sim"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "semantic_dedup",
    survey="M5-dedup,W1,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    ranked AS (
      SELECT a.vec_id, a.centroid_id,
             {_dot_duck('a.embedding', 'c.cemb')} / SQRT(a.norm2 * c.cn2)
               AS centroid_sim
      FROM assigned a JOIN cents c ON c.centroid_id = a.centroid_id
    ),
    rn AS (
      SELECT vec_id, centroid_id, centroid_sim,
             ROW_NUMBER() OVER (PARTITION BY centroid_id
                                ORDER BY centroid_sim ASC, vec_id) AS pri
      FROM ranked
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_dot_duck('a.embedding', 'b.embedding')}
              / SQRT(a.norm2 * b.norm2) >= {_COS_TAU}
    ),
    drops AS (
      SELECT DISTINCT CASE WHEN ra.pri < rb.pri THEN p.vec_b
                           ELSE p.vec_a END AS vec_id
      FROM pairs p
      JOIN rn ra ON ra.vec_id = p.vec_a
      JOIN rn rb ON rb.vec_id = p.vec_b
    )
    SELECT r.vec_id, r.centroid_id AS cluster_id, r.centroid_sim,
           d.vec_id IS NULL AS keep
    FROM rn r LEFT JOIN drops d ON d.vec_id = r.vec_id
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the embedding-space
    dedup capstone MinHash can't see: cluster the corpus (the IVF/k-means
    assignment kernel), and within each cluster drop every vector that has a
    cosine-neighbor >= τ={_COS_TAU} EARLIER in the cluster's priority order.
    Priority follows the paper: ascending similarity to the cluster centroid
    (keep the diverse/edge examples, drop the redundant core), vec_id
    tiebreak — a static total order, so which member of a duplicate group
    survives is deterministic and the drop set needs no sequential sweep
    (exactly the published implementation's sorted-matrix formulation).

    100 TB shape: assignment and pair generation are the proven bucketed
    kernels (broadcast centroids; triangle-split hot clusters, see
    _bucket_candidate_pairs); the priority is one window per cluster over
    (sim, id) pairs; the drop resolution is two id-keyed joins of the
    (small) verified-pair list. No stage touches more than one cluster's
    vectors at a time."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    cents = assigned.filter(F.col("vec_id") < _IVF_C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cemb"),
        F.col("norm2").alias("cn2"),
    )
    dot_vc = _DOT_DEC_SPARK.format(a="embedding", b="cemb")
    rn = (
        assigned.join(F.broadcast(cents), "centroid_id")
        .withColumn(
            "centroid_sim", F.expr(dot_vc) / F.sqrt(F.col("norm2") * F.col("cn2"))
        )
        .withColumn(
            "pri",
            F.row_number().over(
                Window.partitionBy("centroid_id").orderBy(
                    F.col("centroid_sim").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .select("vec_id", F.col("centroid_id").alias("cluster_id"),
                "centroid_sim", "pri")
    )
    # within-cluster verified pairs: bucketed candidates + exact-decimal
    # cosine (the embedding_cosine_near_dup stage-2 kernel, reusing the
    # already-computed assignment instead of a second corpus pass)
    cands = _bucket_candidate_pairs(assigned, _COS_TAU)
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb"),
    )
    dot_ab = _DOT_DEC_SPARK.format(a="ea", b="eb")
    pairs = (
        a.join(F.broadcast(cands), "vec_a")
        .join(b, "vec_b")
        .filter(F.expr(dot_ab) / F.sqrt(F.col("na") * F.col("nb")) >= _COS_TAU)
        .select("vec_a", "vec_b")
    )
    ra = rn.select(F.col("vec_id").alias("vec_a"), F.col("pri").alias("pri_a"))
    rb = rn.select(F.col("vec_id").alias("vec_b"), F.col("pri").alias("pri_b"))
    drops = (
        pairs.join(ra, "vec_a")
        .join(rb, "vec_b")
        .select(
            F.when(F.col("pri_a") < F.col("pri_b"), F.col("vec_b"))
            .otherwise(F.col("vec_a"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        rn.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "centroid_sim",
            F.col("_dropped").isNull().alias("keep"),
        )
    )


_ANN_FILTER = "label < 5"  # the probe-time metadata predicate (half the corpus)


@register(
    "ann_ivf_filtered",
    survey="M5-ann,W1,O1,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    labeled AS (
      SELECT a.*, e.label FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
          FROM assigned WHERE vec_id < {_IVF_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
             {_dot_duck('q.qemb', 'c.embedding')} / SQRT(q.qn2 * c.norm2) AS cos_sim
      FROM q JOIN labeled c
        ON c.centroid_id = q.centroid_id AND c.vec_id <> q.query_id
      WHERE c.{_ANN_FILTER}
    )
    SELECT query_id, neighbor_id, label, rank, cos_sim FROM (
      SELECT query_id, neighbor_id, label, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the modern retrieval requirement plain ANN
    misses: top-k cosine neighbors restricted to a metadata predicate
    ({_ANN_FILTER!r} here; a language/source/date filter in production). The
    IVF index stays label-agnostic; the predicate applies at PROBE time
    (post-filter inside the bucket), the standard engine choice — a
    pre-filtered index per predicate value explodes index count, and
    probe-time filtering composes with any predicate. 100 TB shape:
    identical to ann_ivf_bucketed (broadcast queries against bucketed
    corpus) with the filter pushed into the bucket scan, so selectivity
    REDUCES work; ranks then count only qualifying neighbors. Recall caveat
    as in every post-filter ANN: highly selective predicates warrant probing
    more buckets (nprobe>1) — the oracle pins the 1-probe contract."""
    assigned = _ivf_assigned_df(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    corpus = assigned.join(labels, "vec_id").filter(_ANN_FILTER)
    q = assigned.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm2").alias("qn2"),
        F.col("centroid_id").alias("qcent"),
    )
    dot_qc = _DOT_DEC_SPARK.format(a="qemb", b="embedding")
    scored = (
        corpus.join(
            F.broadcast(q),
            (F.col("centroid_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("cos_sim", F.expr(dot_qc) / F.sqrt(F.col("qn2") * F.col("norm2")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "label", "cos_sim")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVF_K)
        .select("query_id", "neighbor_id", "label", "rank", "cos_sim")
    )


@register(
    "ann_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    iq AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assigned WHERE vec_id < {_IVF_QUERIES}),
    ivf_scored AS (
      SELECT iq.query_id, c.vec_id AS neighbor_id,
             {_dot_duck('iq.qemb', 'c.embedding')} / SQRT(iq.qn2 * c.norm2) AS cos_sim
      FROM iq JOIN assigned c
        ON c.centroid_id = iq.centroid_id AND c.vec_id <> iq.query_id
    ),
    ivf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM ivf_scored
      ) WHERE rank <= {_IVF_K}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_IVF_QUERIES}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_scored AS (
      SELECT d.query_id, d.neighbor_id,
             d.dot / SQRT(nq.norm2 * nc.norm2) AS cos_sim
      FROM bf_dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.neighbor_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM bf_scored
      ) WHERE rank <= {_IVF_K}
    )
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_IVF_K} AS recall
    FROM bf_topk b
    LEFT JOIN ivf_topk i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against brute-force ground truth — the
    eval every ANN deployment runs before trusting the index: per query,
    how many of the exact top-{_IVF_K} cosine neighbors does the bucketed
    search recover? Composes the two registered kernels verbatim
    (:func:`cosine_topk_bruteforce` is the ground truth,
    :func:`ann_ivf_bucketed` the candidate), joins the two top-k sets, and
    reports (n_hits, recall) per query. Both kernels break cosine ties on
    neighbor_id, so the top-k SETS are deterministic and the recall is
    exact — an oracle-checkable number, not a sampled estimate. At 100 TB
    the ground-truth side is the expensive half; the standard practice this
    query encodes is running it over a small fixed query panel (here the
    {_IVF_QUERIES}-query set both kernels already share) while the IVF side
    serves production traffic."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    # the two kernels must agree on panel + k for set-intersection recall;
    # explicit raise (not assert) so `python -O` can't strip the guard and
    # silently produce wrong recall denominators
    if _N_QUERIES != _IVF_QUERIES or _TOP_K != _IVF_K:
        raise ValueError(
            f"recall panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs IVF ({_IVF_QUERIES}, k={_IVF_K}) — keep the constants equal"
        )

    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (
        ann_ivf_bucketed(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / _IVF_K
            ).alias("recall"),
        )
    )


@register(
    "pq_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    cex AS (SELECT vec_id AS k, pos, val AS cval FROM ex WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT e.vec_id, e.pos // {_PQ_SUB} AS m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM ex e JOIN cex c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    dtab AS (SELECT vec_id AS q_id, m, k, dist2 FROM d2 WHERE vec_id < {_PQ_Q}),
    pq_scored AS (
      SELECT d.q_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(d.dist2) AS DOUBLE) AS adist
      FROM codes c JOIN dtab d ON d.m = c.m AND d.k = c.code
      WHERE c.vec_id <> d.q_id
      GROUP BY 1, 2
    ),
    pq_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS rank
        FROM pq_scored
      ) WHERE rank <= {_PQ_TOPK}
    ),
    exact_d2 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST((CAST(q.embedding[i] AS DOUBLE)
                            - CAST(c.embedding[i] AS DOUBLE))
                           * (CAST(q.embedding[i] AS DOUBLE)
                              - CAST(c.embedding[i] AS DOUBLE)) AS {_DEC}))
                  AS DOUBLE) AS d2
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_PQ_Q}
      GROUP BY 1, 2
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, neighbor_id) AS rank
        FROM exact_d2
      ) WHERE rank <= {_PQ_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall
    FROM exact_topk b
    LEFT JOIN pq_topk p
      ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC index against EXACT squared-L2 ground truth —
    the companion eval to ``ann_recall_at_k`` for the lossy index family:
    PQ quantizes every vector to {_PQ_M} codebook ids, so its distances are
    approximations BY DESIGN and recall against the exact metric is the
    number that decides whether a codebook is usable. Composes the
    registered :func:`pq_search` verbatim as the candidate; the truth side
    is a broadcast {_PQ_Q}-query exact L2 top-k over the raw floats
    (decimal-folded, bit-identical across engines; ties broken on
    neighbor_id so both top-k SETS are deterministic and the recall is an
    exact oracle-checkable number). 100 TB shape: truth over a small fixed
    query panel only; the PQ side reads {_PQ_M} ints per corpus vector."""
    pqk = pq_search(spark, sf_dir).select("query_id", "neighbor_id").withColumn(
        "hit", F.lit(1)
    )
    # exact ground truth via the exploded codegen decimal hash agg — the
    # per-pair zip_with/aggregate fold is interpreted and re-evaluated per
    # pair (the r11 HOF lesson; same shape pq_trained_recall_at_k's truth
    # side already uses). Identical 12-dp decimal terms, order-independent
    # sum → bit-identical d2 and ranks (r12, guide §4.1).
    exact_topk = _pq_exact_topk(spark, sf_dir)
    return (
        exact_topk.join(pqk, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / _PQ_TOPK
            ).alias("recall"),
        )
    )


@register(
    "ivfpq_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH {_NORMS_CTE_DUCK},
    {_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))},
    qp AS (SELECT vec_id AS query_id, centroid_id
           FROM assign_scored
           WHERE vec_id < {_PQ_Q} AND rn <= {_IVF_NPROBE}),
    cand AS (
      SELECT qp.query_id, a.vec_id
      FROM qp JOIN assigned a ON a.centroid_id = qp.centroid_id
      WHERE a.vec_id <> qp.query_id
    ),
    ex AS (
      SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    cex AS (SELECT vec_id AS k, pos, val AS cval FROM ex WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT e.vec_id, e.pos // {_PQ_SUB} AS m, c.k,
             SUM(CAST((e.val - c.cval) * (e.val - c.cval) AS {_DEC})) AS dist2
      FROM ex e JOIN cex c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY CAST(dist2 AS DOUBLE), k) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    dtab AS (SELECT vec_id AS q_id, m, k, dist2 FROM d2 WHERE vec_id < {_PQ_Q}),
    pq_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.q_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.q_id
                                  ORDER BY CAST(SUM(d.dist2) AS DOUBLE),
                                           c.vec_id) AS rank
        FROM codes c JOIN dtab d ON d.m = c.m AND d.k = c.code
        WHERE c.vec_id <> d.q_id
        GROUP BY d.q_id, c.vec_id
      ) WHERE rank <= {_PQ_TOPK}
    ),
    ivfpq_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                  ORDER BY CAST(SUM(d.dist2) AS DOUBLE),
                                           cand.vec_id) AS rank
        FROM cand
        JOIN codes c ON c.vec_id = cand.vec_id
        JOIN dtab d ON d.q_id = cand.query_id AND d.m = c.m AND d.k = c.code
        GROUP BY cand.query_id, cand.vec_id
      ) WHERE rank <= {_PQ_TOPK}
    ),
    exact_d2 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST((CAST(q.embedding[i] AS DOUBLE)
                            - CAST(c.embedding[i] AS DOUBLE))
                           * (CAST(q.embedding[i] AS DOUBLE)
                              - CAST(c.embedding[i] AS DOUBLE)) AS {_DEC}))
                  AS DOUBLE) AS d2e
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_PQ_Q}
      GROUP BY 1, 2
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2e, neighbor_id) AS rank
        FROM exact_d2
      ) WHERE rank <= {_PQ_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits_pq,
           CAST(COUNT(v.neighbor_id) AS BIGINT) AS hits_ivfpq,
           CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_pq,
           CAST(COUNT(v.neighbor_id) AS DOUBLE) / {_PQ_TOPK} AS recall_ivfpq
    FROM exact_topk b
    LEFT JOIN pq_topk p
      ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
    LEFT JOIN ivfpq_topk v
      ON v.query_id = b.query_id AND v.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of exhaustive PQ-ADC vs IVF-PQ on the same panel and exact
    squared-L2 ground truth — the eval that separates the TWO approximation
    effects a production index stacks: quantization (recall_pq, what the
    codebook costs when every vector is still scanned) and coarse
    bucketing. The relation between the columns is NOT one-sided: IVF-PQ
    ranks a subset of the candidates, which loses any true neighbor outside
    the probed buckets — but it also EXCLUDES quantization distractors
    (vectors whose ADC distance collapses below their true distance), so
    bucketing can RAISE recall when true neighbors share the query's
    buckets and distractors don't (this corpus shows both directions;
    per-query rows make the trade visible instead of assumed). Both sides
    rank with :func:`pq_search` / :func:`ann_ivfpq_search`'s exact
    derivations over ONE shared PQ kernel (r12, guide §2.4): the corpus
    code table is the argmin both sides consume IN FULL (no pushdown can
    prune it), so it is materialized once — N x {_PQ_M} ints — instead of
    re-deriving the exploded distance kernel per side; the exact ground
    truth is the shared :func:`_pq_exact_topk` (exploded codegen decimal
    hash agg, not a per-pair interpreted fold). Deterministic neighbor_id
    tie-breaks keep both recalls exact."""
    exact = _pq_exact_topk(spark, sf_dir)
    d2 = _pq_d2(spark, sf_dir)
    codes = materialize(
        d2.groupBy("vec_id", "m").agg(
            F.expr(
                "min_by(k, named_struct('d', CAST(dist2 AS DOUBLE), 'k', k))"
            ).alias("code")
        )
    )
    dtab = d2.filter(F.col("vec_id") < _PQ_Q).select(
        F.col("vec_id").alias("q_id"), "m", "k", F.col("dist2").alias("qd2")
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    pq = (
        codes.join(
            F.broadcast(dtab),
            (codes["m"] == dtab["m"]) & (codes["code"] == dtab["k"]),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy(F.col("q_id").alias("query_id"), F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd2").cast("double").alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
        .withColumn("hit_pq", F.lit(1))
    )
    assigned = _ivf_assigned_df(spark, sf_dir).select("vec_id", "centroid_id")
    probes = (
        _ivf_query_probes(spark, sf_dir, _IVF_NPROBE)
        .filter(F.col("query_id") < _PQ_Q)
        .select("query_id", "centroid_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    ivfpq = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(dtab),
            (F.col("q_id") == F.col("query_id"))
            & (dtab["m"] == codes["m"])
            & (dtab["k"] == F.col("code")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd2").cast("double").alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id")
        .withColumn("hit_v", F.lit(1))
    )
    hp = F.sum(F.coalesce(F.col("hit_pq"), F.lit(0)))
    hv = F.sum(F.coalesce(F.col("hit_v"), F.lit(0)))
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .join(ivfpq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hp.cast("bigint").alias("hits_pq"),
            hv.cast("bigint").alias("hits_ivfpq"),
            (hp.cast("double") / _PQ_TOPK).alias("recall_pq"),
            (hv.cast("double") / _PQ_TOPK).alias("recall_ivfpq"),
        )
    )


@register(
    "lsh_recall_at_k",
    survey="M5-ann,J3,A2,beyond-ref",
    oracle=f"""
    WITH hp AS (
      SELECT h, i, {_HP_W_DUCK} AS w
      FROM range({_LSH_H}) t(h), range(64) u(i)
    ),
    comp AS (
      SELECT vec_id, i - 1 AS i, embedding[i] AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    sig AS (
      SELECT c.vec_id, hp.h,
             SUM(CAST(CAST(c.val AS DOUBLE) * CAST(hp.w AS DOUBLE) AS {_DEC})) AS d
      FROM comp c JOIN hp ON hp.i = c.i
      GROUP BY c.vec_id, hp.h
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN CAST(POWER(2, h) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM sig GROUP BY vec_id
    ),
    norms AS (
      SELECT vec_id, embedding,
             CAST((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS {_DEC}))
                   FROM UNNEST(embedding) AS t(x)) AS DOUBLE) AS norm2
      FROM embeddings
    ),
    lsh_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot_duck('qn.embedding', 'cn.embedding')}
               / SQRT(qn.norm2 * cn.norm2) AS cos_sim
      FROM buckets q
      JOIN buckets c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      JOIN norms qn ON qn.vec_id = q.vec_id
      JOIN norms cn ON cn.vec_id = c.vec_id
      WHERE q.vec_id < {_LSH_Q}
    ),
    lsh_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM lsh_scored
      ) WHERE rank <= {_LSH_TOPK}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_LSH_Q}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_LSH_TOPK}
    )
    SELECT b.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / {_LSH_TOPK} AS recall
    FROM bf_topk b
    LEFT JOIN lsh_topk l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH index against brute-force cosine ground
    truth — the third leg of the index-eval trio (IVF: ``ann_recall_at_k``,
    PQ: ``pq_recall_at_k``). Sign-LSH is the weakest of the three (a query
    sees ONLY its own 2^H bucket, which may hold fewer than k candidates),
    so this is the eval that actually decides H. Composes the registered
    kernels verbatim; both tie-break on neighbor_id, so the recall is an
    exact oracle-checkable number — including queries whose bucket starves
    (they simply score hits over whatever the bucket returned)."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    if _N_QUERIES != _LSH_Q or _TOP_K != _LSH_TOPK:
        raise ValueError(
            f"recall panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs LSH ({_LSH_Q}, k={_LSH_TOPK}) — keep the constants equal"
        )

    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    lsh = (
        ann_lsh_hyperplane(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / _LSH_TOPK
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Ranking-quality evals (MRR / nDCG) — recall counts SET overlap; these score
# WHERE in the index's list the right answers land.
# ---------------------------------------------------------------------------

# DCG position weights: the metric is DEFINED on 12-dp roundings of
# 1/log2(rank+1), carried as x1e12 INTEGERS so every engine sums them
# exactly (a double log2 can differ in the last bit between libms; an
# integer-weighted DCG cannot). _NDCG_IDCG_E12[n] = ideal DCG of n relevant
# items (prefix sums), indexed 0..k.
_NDCG_W_E12 = (1_000_000_000_000, 630_929_753_571, 500_000_000_000,
               430_676_558_073, 386_852_807_235)
_NDCG_IDCG_E12 = (0, 1_000_000_000_000, 1_630_929_753_571,
                  2_130_929_753_571, 2_561_606_311_644, 2_948_459_118_879)

_MP_BF_RANKED_CTES = f"""
    {_NORMS_CTE_DUCK},
    {{assign}},
    qp AS (SELECT vec_id AS query_id, embedding AS qemb, norm2 AS qn2, centroid_id
           FROM assign_scored
           WHERE vec_id < {_IVF_QUERIES} AND rn <= {_IVF_NPROBE}),
    mp_ranked AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY {_dot_duck('qp.qemb', 'c.embedding')}
                            / SQRT(qp.qn2 * c.norm2) DESC,
                          c.vec_id) AS rank
        FROM qp JOIN assigned c
          ON c.centroid_id = qp.centroid_id AND c.vec_id <> qp.query_id
      ) WHERE rank <= {_IVF_K}
    ),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(c.embedding[i] AS DOUBLE) AS {_DEC}))
                  AS DOUBLE) AS dot
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(range(1, len(q.embedding) + 1)) AS t(i)
      WHERE q.vec_id < {_IVF_QUERIES}
      GROUP BY q.vec_id, c.vec_id
    ),
    bf_ranked AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / SQRT(nq.norm2 * nc.norm2) DESC,
                                           d.neighbor_id) AS rank
        FROM bf_dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
      ) WHERE rank <= {_IVF_K}
    )
"""


@register(
    "ann_mrr_at_k",
    survey="M5-ann,J3,W1,beyond-ref",
    oracle=f"""
    WITH {_MP_BF_RANKED_CTES.format(
        assign=_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))
    )}
    SELECT b.query_id,
           CAST(COALESCE(m.rank, 0) AS BIGINT) AS found_rank,
           CASE WHEN m.rank IS NULL THEN CAST(0 AS DOUBLE)
                ELSE CAST(1 AS DOUBLE) / m.rank END AS rr
    FROM bf_ranked b
    LEFT JOIN mp_ranked m
      ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
    WHERE b.rank = 1
    """,
)
def ann_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@k of the multiprobe IVF index: per query, the reciprocal of the
    rank at which the index's list contains the TRUE nearest neighbor
    (brute-force rank 1), 0 when the list misses it entirely. Recall@k says
    whether the right answers show up; MRR says whether the single best one
    shows up FIRST — the metric retrieval/RAG stacks actually report.
    Composes the registered kernels verbatim; both tie-break on
    neighbor_id, so found_rank is exact and rr is one double division of
    identical operands in either engine."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    if _N_QUERIES != _IVF_QUERIES or _TOP_K != _IVF_K:
        raise ValueError(
            f"eval panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs IVF ({_IVF_QUERIES}, k={_IVF_K}) — keep the constants equal"
        )
    bf1 = (
        cosine_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", "neighbor_id")
    )
    idx = ann_ivf_multiprobe(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return (
        bf1.join(idx, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            F.coalesce(F.col("rank"), F.lit(0)).cast("bigint").alias("found_rank"),
            F.when(F.col("rank").isNotNull(), F.lit(1.0) / F.col("rank"))
            .otherwise(F.lit(0.0))
            .alias("rr"),
        )
    )


@register(
    "ann_ndcg_at_k",
    survey="M5-ann,J3,A2,W1,beyond-ref",
    oracle=f"""
    WITH {_MP_BF_RANKED_CTES.format(
        assign=_ASSIGN_CTE_DUCK.format(dot=_idot_duck('n.embedding', 'c.cemb'))
    )},
    gains AS (
      SELECT m.query_id,
             CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN b.neighbor_id IS NULL THEN 0
                  ELSE CASE m.rank WHEN 1 THEN {_NDCG_W_E12[0]}
                                   WHEN 2 THEN {_NDCG_W_E12[1]}
                                   WHEN 3 THEN {_NDCG_W_E12[2]}
                                   WHEN 4 THEN {_NDCG_W_E12[3]}
                                   WHEN 5 THEN {_NDCG_W_E12[4]} END END)
                  AS BIGINT) AS dcg_e12
      FROM mp_ranked m
      LEFT JOIN bf_ranked b
        ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
      GROUP BY m.query_id
    )
    SELECT query_id, n_rel, dcg_e12,
           CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(dcg_e12 AS DOUBLE) / CAST(
                  CASE n_rel WHEN 1 THEN {_NDCG_IDCG_E12[1]}
                             WHEN 2 THEN {_NDCG_IDCG_E12[2]}
                             WHEN 3 THEN {_NDCG_IDCG_E12[3]}
                             WHEN 4 THEN {_NDCG_IDCG_E12[4]}
                             WHEN 5 THEN {_NDCG_IDCG_E12[5]} END AS DOUBLE)
           END AS ndcg
    FROM gains
    """,
)
def ann_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k of the multiprobe IVF index with binary relevance (an index
    hit is relevant iff it is in the brute-force top-k): DCG sums the
    position weights 1/log2(rank+1) over the RELEVANT entries of the
    index's list, normalized by the ideal DCG of packing all n_rel relevant
    items at the top. The weights are DEFINED as their 12-dp roundings
    carried x1e12 as exact integers — a double log2 differs across libms in
    the last bit, an integer-weighted DCG cannot — so dcg_e12 is exact and
    ndcg is one int->double conversion (exact below 2^53) plus one division
    of identical operands in either engine. Queries whose index list is
    empty (every probed bucket held only the query) have no row — same as
    the oracle, which also derives from the index side."""
    from pyspark_cdc_engine.operators.vectors import (
        _N_QUERIES,
        _TOP_K,
        cosine_topk_bruteforce,
    )

    if _N_QUERIES != _IVF_QUERIES or _TOP_K != _IVF_K:
        raise ValueError(
            f"eval panel drift: brute-force ({_N_QUERIES} queries, k={_TOP_K})"
            f" vs IVF ({_IVF_QUERIES}, k={_IVF_K}) — keep the constants equal"
        )
    if _IVF_K != len(_NDCG_W_E12) or len(_NDCG_IDCG_E12) != _IVF_K + 1:
        # the rank CASE below enumerates exactly len(_NDCG_W_E12) weights on
        # BOTH the Spark and DuckDB sides — a raised _IVF_K with a stale
        # weight table would NULL ranks past the table and sum() would
        # silently drop those hits in lockstep, invisible to oracle parity
        raise ValueError(
            f"nDCG weight-table drift: k={_IVF_K} but {len(_NDCG_W_E12)} rank"
            f" weights / {len(_NDCG_IDCG_E12) - 1} IDCG prefixes — extend"
            " _NDCG_W_E12/_NDCG_IDCG_E12 (12-dp 1/log2(rank+1) x1e12) to k"
        )
    bf = (
        cosine_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("rel", F.lit(1))
    )
    idx = ann_ivf_multiprobe(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    w_case = (
        "CASE rank WHEN 1 THEN {} WHEN 2 THEN {} WHEN 3 THEN {} "
        "WHEN 4 THEN {} WHEN 5 THEN {} END"
    ).format(*_NDCG_W_E12)
    idcg_case = (
        "CASE n_rel WHEN 1 THEN {} WHEN 2 THEN {} WHEN 3 THEN {} "
        "WHEN 4 THEN {} WHEN 5 THEN {} END"
    ).format(*_NDCG_IDCG_E12[1:])
    gains = (
        idx.join(bf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.col("rel")).cast("bigint").alias("n_rel"),
            F.sum(
                F.when(F.col("rel").isNull(), F.lit(0)).otherwise(
                    F.expr(w_case)
                )
            )
            .cast("bigint")
            .alias("dcg_e12"),
        )
    )
    return gains.select(
        "query_id",
        "n_rel",
        "dcg_e12",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.col("dcg_e12").cast("double")
            / F.expr(idcg_case).cast("double")
        )
        .alias("ndcg"),
    )


@register(
    "cross_source_dup_rate",
    survey="M5-dedup,A2,J3,beyond-ref",
    oracle=f"""
    WITH {_MH_CTES_DUCK},
    widths AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa, sb)) AS i,
             len(sa) AS na, len(sb) AS nb
      FROM cand
    ),
    nd AS (
      SELECT * FROM widths
      WHERE CAST(i AS DOUBLE) / (na + nb - i) >= {_MH_TAU}
    ),
    lab AS (
      SELECT nd.i, nd.na, nd.nb, da.source AS src_a, db.source AS src_b
      FROM nd
      JOIN documents da ON da.doc_id = nd.doc_a
      JOIN documents db ON db.doc_id = nd.doc_b
    )
    SELECT LEAST(src_a, src_b) AS source_a,
           GREATEST(src_a, src_b) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(i) AS BIGINT) AS sum_intersect,
           CAST(SUM(na + nb - i) AS BIGINT) AS sum_union,
           CAST(SUM(i) AS DOUBLE) / CAST(SUM(na + nb - i) AS DOUBLE)
             AS micro_jaccard
    FROM lab GROUP BY source_a, source_b
    """,
)
def cross_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication census: which pairs of corpus sources (web
    crawls, dumps, feeds) overlap, and how heavily — the diagnostic a
    multi-source pretraining mix needs BEFORE choosing per-source dedup or
    mixture weights (e.g. two crawls of the same sites will near-dup
    heavily against each other). Near-dup pairs come from the SAME
    banded-MinHash + exact-verify kernel as ``minhash_lsh_near_dup``
    (identical candidate set and {_MH_TAU} Jaccard threshold), labeled with
    each side's ``source`` and aggregated per unordered source pair:
    pair count, summed intersection/union sizes (exact integers), and the
    micro-averaged Jaccard ``sum_i / sum_u`` — a ratio of two exact integer
    sums with ONE IEEE division, so the per-source-pair hash is float-safe
    (a per-pair-jaccard mean would sum doubles whose 6-dp decimal casts can
    land on rounding midpoints — i/u with u a power of two does).

    100 TB shape: everything up to the census is the proven LSH kernel
    (constant bytes/doc through the band join); the source labels join on
    doc_id against the pair table (pairs << corpus) and the final aggregate
    is |sources|^2-bounded — tiny. Self-pairs (source_a == source_b) stay
    in the output: within-source duplication is the baseline the
    cross-source numbers are read against."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")  # footer-only
    # Shared-kernel plan (r12, guide §2.4): the original hand-rolled version
    # re-derived the shingle pipeline once per band-join side plus once for
    # the full-corpus collect_set — 3 corpus passes. Routing through the
    # SAME gated kernel _minhash_lsh uses gets (a) the materialize gate on
    # sets/sigs, (b) the candidate-ids semi-join so shingle arrays aggregate
    # for candidate docs only, and (c) one definition of the candidate set.
    # Widths (i, na, nb) are byte-identical: same candidate dedup, same
    # full-set sizes for candidate docs.
    sets = _maybe_materialize(minhash_shingle_sets(d), n_docs)
    sigs = _maybe_materialize(minhash_signatures_from_sets(sets), n_docs)
    widths = _candidate_widths_from_bands(
        lsh_band_table(sigs), shingle_sets=sets
    )
    nd = widths.filter(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
        >= _MH_TAU
    )
    src = d.select("doc_id", "source")
    lab = nd.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
        "doc_b",
    )
    si = F.sum("i")
    su = F.sum(F.col("na") + F.col("nb") - F.col("i"))
    return lab.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        si.cast("bigint").alias("sum_intersect"),
        su.cast("bigint").alias("sum_union"),
        (si.cast("double") / su.cast("double")).alias("micro_jaccard"),
    )


_KMV_K = 64  # minima kept per source sketch
# (K-1) * 2^48 — the KMV estimator numerator over 12-hex-digit normalized
# hashes; 63 * 2^48 < 2^53, so the constant is exactly representable as a
# DOUBLE in both engines
_KMV_NUM = 17732923532771328


@register(
    "source_overlap_kmv",
    survey="M5-dedup,A2,W1,beyond-ref",
    oracle=f"""
    WITH {_SHINGLE_CTE_DUCK},
    hsrc AS (
      SELECT DISTINCT d.source, substr(md5(s.sh), 1, 15) AS shh
      FROM sets s JOIN documents d ON d.doc_id = s.doc_id
    ),
    kmv AS (
      SELECT source, shh,
             ('0x' || substr(shh, 1, 12))::BIGINT AS hv, rank
      FROM (
        SELECT source, shh,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY shh) AS rank
        FROM hsrc
      ) WHERE rank <= {_KMV_K}
    ),
    src_est AS (
      SELECT source, MAX(rank) AS n,
             MAX(CASE WHEN rank = {_KMV_K} THEN hv END) AS hvk,
             CASE WHEN MAX(rank) < {_KMV_K} THEN CAST(MAX(rank) AS DOUBLE)
                  ELSE CAST({_KMV_NUM} AS DOUBLE)
                       / CAST(MAX(CASE WHEN rank = {_KMV_K} THEN hv END) AS DOUBLE)
             END AS est
      FROM kmv GROUP BY source
    ),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.est AS est_distinct_a, b.est AS est_distinct_b
      FROM src_est a JOIN src_est b ON a.source < b.source
    ),
    merged AS (
      SELECT p.source_a, p.source_b, k.shh, k.hv
      FROM p JOIN kmv k ON k.source = p.source_a
      UNION ALL
      SELECT p.source_a, p.source_b, k.shh, k.hv
      FROM p JOIN kmv k ON k.source = p.source_b
    ),
    cells AS (
      SELECT source_a, source_b, shh, ANY_VALUE(hv) AS hv,
             COUNT(*) AS n_sides
      FROM merged GROUP BY source_a, source_b, shh
    ),
    ranked AS (
      SELECT source_a, source_b, shh, hv, n_sides,
             ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                ORDER BY shh) AS rank
      FROM cells
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= {_KMV_K}),
    u AS (
      SELECT source_a, source_b, MAX(rank) AS union_n,
             MAX(CASE WHEN rank = {_KMV_K} THEN hv END) AS hvk,
             CAST(SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS kmv_matches
      FROM topk GROUP BY source_a, source_b
    )
    SELECT p.source_a, p.source_b, u.kmv_matches,
           p.est_distinct_a, p.est_distinct_b,
           CASE WHEN u.union_n < {_KMV_K} THEN CAST(u.union_n AS DOUBLE)
                ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(u.hvk AS DOUBLE)
           END AS est_union,
           CAST(u.kmv_matches AS DOUBLE) / CAST(u.union_n AS DOUBLE)
             AS est_jaccard,
           (CAST(u.kmv_matches AS DOUBLE) / CAST(u.union_n AS DOUBLE))
             * (CASE WHEN u.union_n < {_KMV_K} THEN CAST(u.union_n AS DOUBLE)
                     ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(u.hvk AS DOUBLE)
                END) AS est_intersect
    FROM p JOIN u ON u.source_a = p.source_a AND u.source_b = p.source_b
    """,
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) set-overlap sketch between corpus sources —
    the CONSTANT-STATE companion to :func:`cross_source_dup_rate`: where the
    census verifies individual near-dup pairs, this estimates per-source
    distinct-shingle cardinalities, union sizes, and Jaccard overlap for
    EVERY source pair from {_KMV_K}-row sketches (Beyer et al., SIGMOD'07:
    the k-th smallest normalized hash v_k of a distinct set estimates its
    cardinality as (k-1)/v_k; two sketches union by merging and re-taking
    the k minima, and the match fraction inside the merged top-k estimates
    Jaccard). Sets smaller than k fall back to their exact count — the
    standard KMV convention, branch identical in both engines.

    Everything is deterministic md5 arithmetic: shingle hashes are the
    shared 15-hex kernel, the sketch is "k smallest hashes" (lexicographic
    = numeric for fixed-width hex), and the estimator divides the exact
    integer constant (k-1)*2^48 (< 2^53, exactly representable) by the
    12-hex-digit hash value — single IEEE ops written identically in both
    engines, so even the ESTIMATES hash-certify exactly.

    100 TB shape: the only corpus-sized stages are the shared shingle
    kernel and one per-source top-k (a windowed rank that AQE executes as
    per-partition partial top-k; k rows per source survive). Every pair
    computation downstream runs on |sources| x {_KMV_K} rows — the whole
    point of the sketch. The source-pair frame is |sources|^2-bounded and
    broadcast by construction."""
    from pyspark.sql import Window

    d = fan_out(load_table(spark, sf_dir, "documents"))
    hsrc = (
        minhash_shingle_sets(d)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "shh")
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("shh")
    # The sketch is <= |sources| x k rows BY CONSTRUCTION, but its lineage
    # contains the corpus-sized shingle kernel — and it feeds THREE consumers
    # (src_est, and both sides of the merged-sketch union). Materialize the
    # tiny frame so the shingle pass runs once instead of once per consumer
    # (r12, guide §2.4; was 3 corpus passes / 78 Exchanges in the before
    # plan). Constant state at any corpus size — this is the point of KMV.
    kmv = materialize(
        hsrc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KMV_K)
        .withColumn(
            "hv", F.expr("CAST(conv(substr(shh, 1, 12), 16, 10) AS BIGINT)")
        )
    )
    hvk = F.max(F.when(F.col("rank") == _KMV_K, F.col("hv")))
    est = F.when(
        F.max("rank") < _KMV_K, F.max("rank").cast("double")
    ).otherwise(F.lit(float(_KMV_NUM)) / hvk.cast("double"))
    src_est = kmv.groupBy("source").agg(est.alias("est"))
    a = src_est.select(
        F.col("source").alias("source_a"), F.col("est").alias("est_distinct_a")
    )
    b = src_est.select(
        F.col("source").alias("source_b"), F.col("est").alias("est_distinct_b")
    )
    p = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    ka = kmv.select(F.col("source").alias("source_a"), "shh", "hv")
    kb = kmv.select(F.col("source").alias("source_b"), "shh", "hv")
    merged = p.select("source_a", "source_b").join(
        F.broadcast(ka), "source_a"
    ).unionByName(
        p.select("source_a", "source_b").join(F.broadcast(kb), "source_b")
        .select("source_a", "source_b", "shh", "hv")
    )
    cells = merged.groupBy("source_a", "source_b", "shh").agg(
        F.any_value("hv").alias("hv"), F.count(F.lit(1)).alias("n_sides")
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy("shh")
    topk = cells.withColumn("rank", F.row_number().over(wp)).filter(
        F.col("rank") <= _KMV_K
    )
    uhvk = F.max(F.when(F.col("rank") == _KMV_K, F.col("hv")))
    est_union = F.when(
        F.max("rank") < _KMV_K, F.max("rank").cast("double")
    ).otherwise(F.lit(float(_KMV_NUM)) / uhvk.cast("double"))
    u = topk.groupBy("source_a", "source_b").agg(
        F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("kmv_matches"),
        F.max("rank").alias("union_n"),
        est_union.alias("est_union"),
    )
    ej = F.col("kmv_matches").cast("double") / F.col("union_n").cast("double")
    return p.join(u, ["source_a", "source_b"]).select(
        "source_a",
        "source_b",
        "kmv_matches",
        "est_distinct_a",
        "est_distinct_b",
        "est_union",
        ej.alias("est_jaccard"),
        (ej * F.col("est_union")).alias("est_intersect"),
    )


@register(
    "kmv_merge_rollup",
    survey="M5-dedup,A2,W1,beyond-ref",
    oracle=f"""
    WITH mk AS (
      SELECT DISTINCT
             EXTRACT(year FROM l_shipdate) * 100 + EXTRACT(month FROM l_shipdate) AS m,
             EXTRACT(year FROM l_shipdate) * 10 + EXTRACT(quarter FROM l_shipdate) AS q,
             l_partkey,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT AS hv
      FROM lineitem
    ),
    month_kmv AS (
      SELECT * FROM (
        SELECT m, q, l_partkey, hv,
               ROW_NUMBER() OVER (PARTITION BY m ORDER BY hv, l_partkey) AS rank
        FROM mk
      ) WHERE rank <= {_KMV_K}
    ),
    qdirect AS (
      SELECT q, MAX(rank) AS n,
             MAX(CASE WHEN rank = {_KMV_K} THEN hv END) AS hvk
      FROM (
        SELECT q, hv,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY hv, l_partkey) AS rank
        FROM (SELECT DISTINCT q, l_partkey, hv FROM mk)
      ) WHERE rank <= {_KMV_K}
      GROUP BY q
    ),
    qmerged AS (
      SELECT q, MAX(rank) AS n,
             MAX(CASE WHEN rank = {_KMV_K} THEN hv END) AS hvk
      FROM (
        SELECT q, hv,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY hv, l_partkey) AS rank
        FROM (SELECT DISTINCT q, l_partkey, hv FROM month_kmv)
      ) WHERE rank <= {_KMV_K}
      GROUP BY q
    ),
    months AS (SELECT q, CAST(COUNT(DISTINCT m) AS BIGINT) AS n_months FROM mk GROUP BY q)
    SELECT CAST(d.q AS BIGINT) AS quarter, months.n_months,
           CAST(d.n AS INT) AS kmv_n,
           CASE WHEN d.n < {_KMV_K} THEN CAST(d.n AS DOUBLE)
                ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(d.hvk AS DOUBLE)
           END AS est_distinct_parts,
           CAST(CASE WHEN (CASE WHEN d.n < {_KMV_K} THEN CAST(d.n AS DOUBLE)
                                ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(d.hvk AS DOUBLE) END)
                     = (CASE WHEN g.n < {_KMV_K} THEN CAST(g.n AS DOUBLE)
                             ELSE CAST({_KMV_NUM} AS DOUBLE) / CAST(g.hvk AS DOUBLE) END)
                THEN 1 ELSE 0 END AS INT) AS merge_consistent
    FROM qdirect d
    JOIN qmerged g ON g.q = d.q
    JOIN months ON months.q = d.q
    """,
)
def kmv_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA certification — the property that makes sketches
    the 100 TB answer: per-month KMV sketches of distinct parts shipped
    MERGE into quarterly sketches (union the k-minima, re-take k minima)
    that are EXACTLY the sketch a direct quarterly build produces (any
    hash in the quarter's true top-k is in its month's top-k), so partial
    per-partition sketching + a tiny merge replaces a corpus-wide
    distinct. ``merge_consistent`` pins that equality: the row emits 1
    only if the merged estimate equals the direct estimate bit-for-bit,
    and the DuckDB oracle re-derives BOTH paths — a drifting merge
    implementation flips the value and fails the hash compare (the
    contract style of ``approx_distinct_sketch``, but here the estimator
    itself is deterministic md5 arithmetic, so the estimates certify too).

    Plan: one distinct over (month, part) — the only corpus-sized stage;
    both sketch builds are windowed top-k over month- or quarter-keyed
    frames (per-partition partial top-k under AQE); everything after is
    |quarters| x k rows. At 100 TB the month sketches would be persisted
    as the rollup state and quarters NEVER rescan raw data — this query
    proves that fold is lossless."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # mk (the distinct month/part frame) is the ONLY corpus-sized stage and
    # it feeds three consumers (month sketches, the direct quarterly sketch,
    # months-per-quarter) — materialize it so the lineitem scan + distinct +
    # md5 run once instead of once per consumer (r12, guide §2.4; cold time
    # carried 3 identical Exchange-topped subtrees). At 100 TB this frame IS
    # the persisted rollup state the docstring describes, so cutting it here
    # matches the production shape rather than fighting it.
    mk = materialize(
        li.select(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("m"),
            (F.year("l_shipdate") * 10 + F.quarter("l_shipdate")).alias("q"),
            "l_partkey",
        ).distinct().withColumn(
            "hv",
            F.expr(
                "CAST(conv(substr(md5(CAST(CAST(l_partkey AS STRING) AS BINARY)),"
                " 1, 12), 16, 10) AS BIGINT)"
            ),
        )
    )
    wm = Window.partitionBy("m").orderBy("hv", "l_partkey")
    month_kmv = mk.withColumn("rank", F.row_number().over(wm)).filter(
        F.col("rank") <= _KMV_K
    )
    wq = Window.partitionBy("q").orderBy("hv", "l_partkey")

    def sketch(src: DataFrame) -> DataFrame:
        ranked = (
            src.select("q", "l_partkey", "hv")
            .distinct()
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= _KMV_K)
        )
        return ranked.groupBy("q").agg(
            F.max("rank").alias("n"),
            F.max(F.when(F.col("rank") == _KMV_K, F.col("hv"))).alias("hvk"),
        )

    def est(n, hvk):
        return F.when(n < _KMV_K, n.cast("double")).otherwise(
            F.lit(float(_KMV_NUM)) / hvk.cast("double")
        )

    qd = sketch(mk).select(
        "q", F.col("n").alias("nd"), F.col("hvk").alias("hvkd")
    )
    qg = sketch(month_kmv).select(
        "q", F.col("n").alias("ng"), F.col("hvk").alias("hvkg")
    )
    months = mk.groupBy("q").agg(
        F.countDistinct("m").cast("bigint").alias("n_months")
    )
    ed = est(F.col("nd"), F.col("hvkd"))
    eg = est(F.col("ng"), F.col("hvkg"))
    return (
        qd.join(qg, "q")
        .join(months, "q")
        .select(
            F.col("q").cast("bigint").alias("quarter"),
            "n_months",
            F.col("nd").cast("int").alias("kmv_n"),
            ed.alias("est_distinct_parts"),
            F.when(ed == eg, 1).otherwise(0).cast("int").alias("merge_consistent"),
        )
    )
