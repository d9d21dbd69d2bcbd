"""Text analysis + deduplication — the LLM-data-pipeline extension surface.

The reference has no text operators (SURVEY.md §2.8); these are the
driver-mandated extensions (BASELINE.json north_star) for training-data
curation at 100 TB: exact dedup, n-gram-Jaccard near-dup, MinHash-LSH,
SimHash, token/quality stats, language-ID, document fingerprinting.

Design for scale:
- Exact dedup: hash-groupBy on a content digest — one shuffle keyed by
  md5(text), no text comparison beyond the digest.
- MinHash-LSH: shingle → K minhash signatures → band buckets → pair-join
  inside buckets only. Never an all-pairs comparison; the band join is the
  only shuffle and its key (band digest) is uniformly distributed by
  construction. This is the standard web-scale near-dup pipeline
  (shingling/minhash per Broder '97; banding per Leskovec et al., MMDS ch.3).
- n-gram Jaccard: exact verification on *candidate pairs only* (prefix
  buckets here; at scale the candidates come from the LSH stage).
- All hashing is md5-based so every stage is portable SQL — the DuckDB
  oracle replays the identical pipeline (md5 agrees bit-for-bit across
  engines; MinHash uses min() over md5 strings, a valid uniform hash family).
- The SimHash fast path is a vectorized Arrow UDF (simhash64); the
  oracle-checked variant is a 16-bit portable-SQL spelling (simhash16).
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.hashing import PHASH_P, phash_frag
from ..sources.io import load_table, spread

STOPWORDS = ["the", "a", "of", "and", "to"]  # closed-vocab corpus markers
MINHASH_K = 16  # signature length
MINHASH_BANDS = 4  # 4 bands x 4 rows: catches J>=~0.5 pairs w.h.p.
SHINGLE_N = 3


# -- token/quality statistics ------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: doc counts, token counts (whitespace),
    char lengths, stopword ratio. The per-doc exprs are all JVM builtins —
    no Python in the hot path."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    )
    return (
        docs.select(
            "lang",
            n_tok.alias("n_tokens"),
            F.length("text").alias("n_chars_live"),
            (stop_hits.cast("double") / n_tok.cast("double")).alias("stop_ratio"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("n_chars_live"), 6).alias("avg_chars"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
        )
        .orderBy("lang")
    )


_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

TEXT_STATS_ORACLE = f"""
WITH per_doc AS (
    SELECT lang,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_live,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_IN})))
                AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS stop_ratio
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_tokens), 6) AS avg_tokens,
       ROUND(AVG(n_chars_live), 6) AS avg_chars,
       ROUND(AVG(stop_ratio), 6) AS avg_stop_ratio
FROM per_doc GROUP BY lang ORDER BY lang
"""


# -- quality scoring ---------------------------------------------------------

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score — the standard cheap pre-filter for
    training-data curation (length band + stopword presence + mean word
    length). Deterministic arithmetic only; returns every doc with its
    score so downstream filters are a predicate, not a recompute."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    mean_wlen = F.length("text").cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    )
    len_score = F.when((n_tok >= 20) & (n_tok <= 80), 1.0).otherwise(0.5)
    score = F.round(
        len_score * 0.5 + stop_ratio * 2.0 + (mean_wlen / 10.0) * 0.25, 6
    )
    return docs.select("doc_id", "lang", score.alias("quality"))


QUALITY_SCORES_ORACLE = f"""
SELECT doc_id, lang,
       ROUND(
         (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 80
               THEN 1.0 ELSE 0.5 END) * 0.5
         + (CAST(len(list_filter(string_split(text,' '), t -> t IN ({_STOP_IN})))
                 AS DOUBLE) / CAST(len(string_split(text,' ')) AS DOUBLE)) * 2.0
         + ((CAST(length(text) AS DOUBLE) / CAST(len(string_split(text,' ')) AS DOUBLE))
            / 10.0) * 0.25
       , 6) AS quality
FROM documents
"""


# -- language identification (n-gram/marker heuristic) -----------------------

_LANG_MARKERS = {
    "en": ["the", "and"],
    "de": ["der", "und"],
    "fr": ["le", "et"],
    "es": ["el", "y"],
    "zh": ["de", "shi"],
}


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID vs the labeled lang — a confusion matrix.
    On this closed-vocab synthetic corpus the heuristic is near-chance;
    the query's value is the deterministic end-to-end machinery (per-doc
    scoring → argmax with fixed tie order → grouped confusion counts)."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(
            (F.size(F.split(padded, f" {m} ")) - F.lit(1)) for m in markers
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    # deterministic argmax: alphabetical lang order, first max wins
    langs = sorted(scores)
    pred = F.lit(langs[0])
    best = scores[langs[0]]
    for lang in langs[1:]:
        pred = F.when(scores[lang] > best, F.lit(lang)).otherwise(pred)
        best = F.when(scores[lang] > best, scores[lang]).otherwise(best)
    return (
        docs.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "predicted")
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(
        f"(len(string_split(' ' || text || ' ', ' {m} ')) - 1)"
        for m in _LANG_MARKERS[lang]
    )


def _lang_pred_sql() -> str:
    langs = sorted(_LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = f"({_lang_score_sql(langs[0])})"
    for lang in langs[1:]:
        s = f"({_lang_score_sql(lang)})"
        pred = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return pred


LANG_ID_ORACLE = f"""
SELECT lang AS actual, {_lang_pred_sql()} AS predicted, COUNT(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY actual, predicted
"""


# -- document fingerprinting & exact dedup -----------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint = md5 of whitespace-normalized lowercase text.
    Per source: distinct-fingerprint counts (corpus redundancy profile)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .orderBy("source")
    )


DOC_FINGERPRINTS_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS n_distinct
FROM documents
GROUP BY source ORDER BY source
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, canonical = min doc_id.
    Output one row per doc with its canonical id and duplicate flag —
    the standard keep-first exact-dedup contract. One shuffle on the
    digest; text itself never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    return (
        with_fp.withColumn("canonical_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
FROM documents
"""


# -- shingles (shared by Jaccard + MinHash) ----------------------------------

def _shingles(docs: DataFrame, extra_cols: list | None = None) -> DataFrame:
    """Distinct word-3-gram shingles per doc, built entirely inside the row
    with higher-order array functions — no shuffle, no Python, stays in
    whole-stage codegen. The explode happens only AFTER array_distinct, so
    duplicate shingles never hit the exchange. Output: (doc_id, shingle
    [, *extra_cols]) — extra columns ride the explode so callers don't need
    a second corpus scan to re-attach per-doc attributes."""
    toks = F.split(F.col("text"), " ")
    # nested zip_with over three offset slices, NOT transform+element_at:
    # element_at inside a lambda re-evaluates the array argument per
    # element (→ re-splits the text per shingle, O(words²) per doc); each
    # slice evaluates the split once per row.
    shingle_arr = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - (SHINGLE_N - 1)),
                F.slice(toks, 2, F.size(toks) - (SHINGLE_N - 1)),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(toks, 3, F.size(toks) - (SHINGLE_N - 1)),
            lambda ab, c: F.concat_ws(" ", ab, c),
        )
    )
    return (
        spread(docs.filter(F.size(toks) >= SHINGLE_N))
        .select(
            "doc_id",
            F.explode(shingle_arr).alias("shingle"),
            *(extra_cols or []),
        )
    )


_SHINGLES_SQL = """
toks AS (
    SELECT doc_id, pos, tok
    FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
),
shingles AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle,
               LEAD(tok, 2) OVER w AS t2
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE t2 IS NOT NULL
)
"""


# -- n-gram Jaccard near-dup on candidate pairs ------------------------------

def _pair_overlap(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set overlap counts for an explicit candidate-pair
    frame: (doc_a, doc_b) → (doc_a, doc_b, n_inter, n_a, n_b). Bounded by
    the pair list — THE verification kernel under ``_pair_jaccard`` (the
    symmetric measure) and ``_pair_containment`` (the directional one):
    one definition of the set algebra, or the two similarity semantics
    silently diverge. Pairs with no shared shingle survive with n_inter 0;
    pairs whose doc has no shingles (under ``SHINGLE_N`` tokens) drop out,
    exactly like the previous sizes inner join.

    Round-5 rework (×100 find #3): the original spelling exploded each
    pair into its per-shingle matches (pairs ⋈ shingles ⋈ shingles →
    count), which at 100-member dup-group density pushed ~1.5B pair-
    shingle rows through a shuffle-aggregate — 313 s for the jaccard
    consumer at ×100. Sets are now collected ONCE per doc (the shingles
    are already distinct) and each pair computes |∩| row-locally with
    ``array_intersect`` inside codegen: same exact integers, no
    per-shingle rows, no aggregation — measured 89 s on the identical
    ×100 input (3.5×). The shuffle moves |pairs| array-carrying rows
    instead of Σ|pair|·|shingles| — the cost is now linear in the
    output, which for a pair-reporting operator is the floor."""
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shs"))
    a = sets.select(F.col("doc_id").alias("za_id"), F.col("shs").alias("sa"))
    b = sets.select(F.col("doc_id").alias("zb_id"), F.col("shs").alias("sb"))
    return (
        pairs.join(a, F.col("doc_a") == F.col("za_id"))
        .join(b, F.col("doc_b") == F.col("zb_id"))
        .withColumn("n_inter", F.size(F.array_intersect("sa", "sb")))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.size("sa").alias("n_a"),
            F.size("sb").alias("n_b"),
        )
    )


def _pair_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard over ``_pair_overlap``: (doc_a, doc_b) →
    (doc_a, doc_b, jaccard 6 dp) — shared by ``dedup_ngram_jaccard`` and
    ``minhash_band_calibration``."""
    return _pair_overlap(pairs, sh).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def _pair_jaccard_sql(pairs_cte: str = "pairs") -> str:
    """SQL twin of ``_pair_jaccard``: CTE chain (sizes, inter, jac) over
    an existing ``shingles`` CTE and a ``{pairs_cte}`` pair list; ``jac``
    carries the 6-dp-rounded jaccard — callers filter/bucket the ROUNDED
    value, exactly like the Spark kernel."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
    FROM {pairs_cte} p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
),
jac AS (
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / CAST(za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE),
                 6) AS jaccard
    FROM {pairs_cte} p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
)"""


def _ngram_rep_edges(
    spark: SparkSession, sf_dir: str, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Exact-dup-collapsed core of the prefix-blocked Jaccard family
    (r9 verdict item 2 — the 41×-superlinear fix): verification runs
    ONCE per pair of DISTINCT texts instead of once per member pair.

    Returns ``(edges, groups)``: ``groups`` is (doc_id, gid, source)
    over ALL documents (gid = min doc_id of the md5(text) group —
    ``dedup_exact``'s canonical id; prefix and fingerprint ride the same
    scan, so nothing but narrow columns shuffles); ``edges`` is
    (doc_a=ga, doc_b=gb, jaccard) rep-level — prefix-blocked pairs of
    representatives plus one self-loop per multi-member group, both
    scored by the SAME ``_pair_jaccard`` kernel (a self-loop scores its
    group's identical texts: array_intersect(sa, sa) → jaccard exactly
    1.0; groups under SHINGLE_N tokens drop in the kernel's inner join,
    exactly like every member pair they stand for). Jaccard and the
    32-char prefix are pure functions of the text, so rep-level results
    apply verbatim to every member pair."""
    docs = load_table(spark, sf_dir, "documents")
    gf = (
        docs.select(
            "doc_id",
            "source",
            F.md5("text").alias("fp"),
            F.substring("text", 1, 32).alias("pfx"),
        )
        .withColumn("gid", F.min("doc_id").over(Window.partitionBy("fp")))
        .drop("fp")
    )
    groups = gf.select("doc_id", "gid", "source").localCheckpoint()
    reps = gf.filter(F.col("doc_id") == F.col("gid")).select("gid", "pfx")
    rep_pairs = (
        reps.alias("a")
        .join(reps.alias("b"), "pfx")
        .filter(F.col("a.gid") < F.col("b.gid"))
        .select(
            F.col("a.gid").alias("doc_a"), F.col("b.gid").alias("doc_b")
        )
    )
    loops = (
        groups.groupBy("gid")
        .agg(F.count(F.lit(1)).alias("g_size"))
        .filter(F.col("g_size") >= 2)
        .select(F.col("gid").alias("doc_a"), F.col("gid").alias("doc_b"))
    )
    edges = _pair_jaccard(rep_pairs.unionByName(loops), _shingles(docs)).filter(
        F.col("jaccard") >= threshold
    )
    return edges, groups


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.1
) -> DataFrame:
    """Exact 3-gram Jaccard similarity over candidate pairs (docs sharing a
    32-char prefix — the cheap blocking key for this corpus; at scale the
    candidates come from MinHash-LSH below). Jaccard is a ratio of integer
    set sizes — exact across engines. No output sort: the pair stream is
    inherently its own cost floor (dup groups of size g emit C(g,2) rows)
    and a global range-sort over it bought nothing — consumers
    (``cross_source_dup_matrix``) aggregate it, and the correctness
    compare is order-insensitive (the event_gaps contract).

    Round 10: verification is exact-dup-collapsed (``_ngram_rep_edges``)
    — the expensive array_intersect runs per DISTINCT-text pair; member
    pairs are restored by ``_expand_pairs`` carrying the rep's jaccard
    (text-invariant, so bit-identical to scoring each pair). The DuckDB
    oracle keeps the uncollapsed spelling — equality is the proof."""
    edges, groups = _ngram_rep_edges(spark, sf_dir, threshold)
    return _expand_pairs(
        edges.select(
            F.col("doc_a").alias("ga"), F.col("doc_b").alias("gb"), "jaccard"
        ),
        groups.select("doc_id", "gid"),
        ["jaccard"],
    )


def dedup_ngram_jaccard_oracle(threshold: float = 0.1) -> str:
    return f"""
WITH {_SHINGLES_SQL},
pref AS (SELECT doc_id, substr(text, 1, 32) AS pfx FROM documents),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN pref b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
),
{_pair_jaccard_sql()}
SELECT doc_a, doc_b, jaccard
FROM jac
WHERE jaccard >= {threshold}
ORDER BY doc_a, doc_b
"""


NEARDUP_TOPK = 3  # neighbors kept per document in the bounded face
NEARDUP_CAND_CAP = 16  # per-doc candidate budget before exact verification
# second operating point (r9 verdict item 7): a corpus with legitimately
# high dup density (top-k saturating near the cap) gets a registered
# deeper budget — same machinery, same oracle, same recall audit row,
# 4x the verification bound (still 2·cap·|docs|, density-independent)
NEARDUP_CAND_CAP_DEEP = 64


def dedup_ngram_jaccard_topk(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.1,
    k: int = NEARDUP_TOPK,
    cap: int | None = NEARDUP_CAND_CAP,
    cand: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document bounded face of the Jaccard near-dup family: each
    doc's top-k nearest near-dups, ranked by exact Jaccard (ties broken
    by neighbor id, so the rank is deterministic and hash-checkable).
    This is the spelling to RECOMMEND at 100 TB — the full pair list is
    C(g,2) per dup group (the ×100 sweep measured that floor: 27M
    verified pairs), while a curation pass almost always wants "who are
    this doc's closest duplicates", which is k·n rows regardless of
    group density.

    Round 9 (r8 verdict item 2): candidates now come from the banded
    MinHash index CAPPED per doc by shared-band count
    (``_capped_lsh_candidates``) instead of the prefix-block pair list —
    the r8 face bounded the OUTPUT but still exact-verified every
    blocked candidate pair (136.9 s vs the pair face's 145.7 s at ×100:
    only ~6% saved, because the 27M verifications dominated). With the
    cap, verification is bounded by 2·cap·|docs| — independent of
    dup-group density. Recall vs the uncapped spelling is contract-
    audited (``neardup_topk_recall_audit``); the exact-prefix pair face
    ``dedup_ngram_jaccard`` stays registered unchanged as the certified
    exhaustive definition.

    Plan shape: one window over the (already-aggregated) banded pair
    frame picks the capped candidates, exact row-local
    ``array_intersect`` verifies only those, then ONE row_number window
    partitioned by doc_id ranks the survivors. No global sort, no
    single-partition exchange. ``cand`` lets the recall audit supply a
    shared materialized candidate frame; ``pairs`` lets it supply the
    SCORED pairs directly (r11 — the audit scores the uncapped superset
    once and restricts by join; the ranking below is the contract being
    audited, so it always runs here)."""
    if pairs is None:
        if cand is None:
            cand = _capped_lsh_candidates(spark, sf_dir, cap)
        docs = load_table(spark, sf_dir, "documents")
        pairs = _pair_jaccard(cand, _shingles(docs)).filter(
            F.col("jaccard") >= threshold
        )
    sym = _sym_expand(pairs, "jaccard")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor").asc()
    )
    return sym.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= k
    )


def _sym_expand(pairs: DataFrame, score: str) -> DataFrame:
    """(doc_a, doc_b, score) → both directions as (doc_id, neighbor,
    score), via ONE row-local explode — NOT a self-union: a union's two
    branches each re-evaluate the pair subtree (Spark reuses identical
    exchanges but recomputes join-side projections — measured ×100 on
    the dup-dense replica: the unioned jaccard top-k cost 2× its own
    pair face because the 27M array_intersect verifications ran twice).
    The explode doubles rows inside the same codegen stage instead."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("neighbor"),
                    F.col(score).alias(score),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("neighbor"),
                    F.col(score).alias(score),
                ),
            )
        ).alias("s")
    ).select("s.doc_id", "s.neighbor", f"s.{score}")


def dedup_ngram_jaccard_topk_oracle(
    threshold: float = 0.1,
    k: int = NEARDUP_TOPK,
    cap: int | None = NEARDUP_CAND_CAP,
) -> str:
    return f"""
WITH {_SHINGLES_SQL},
{_capped_cand_sql(cap)},
{_pair_jaccard_sql("cand")},
hits AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {threshold}),
sym AS (
    SELECT doc_a AS doc_id, doc_b AS neighbor, jaccard FROM hits
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS neighbor, jaccard FROM hits
)
SELECT doc_id, neighbor, jaccard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY jaccard DESC, neighbor ASC
       ) AS INT) AS rnk
FROM sym
QUALIFY rnk <= {k}
ORDER BY doc_id, rnk
"""


# -- duplicate passage detection ---------------------------------------------

DUP_PASSAGE_TOP = 50


def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-passage detection at shingle granularity: every
    word-3-gram that occurs in >= 2 distinct documents, with its corpus
    spread. This is the substring-level complement to the document-level
    dedup family — repeated boilerplate (headers, license blocks, templated
    sentences) shows up here even when whole documents are unique, and the
    flagged shingles drive passage-removal passes (the ExactSubstr idea of
    Lee et al. '22, "Deduplicating Training Data Makes Language Models
    Better", recast as one relational aggregation instead of a suffix array).

    Plan shape: ``_shingles`` builds per-doc DISTINCT shingles row-locally
    (no shuffle before the explode, duplicates collapsed before the
    exchange), then ONE map-side-combined aggregate keyed by the shingle.
    Because shingles are already distinct within a doc, ``count(*)`` IS the
    document frequency — no countDistinct shuffle. The >= 2 filter drops the
    long unique tail at the aggregate, so the final top-50 sort sees only
    the (tiny) repeated vocabulary.

    100 TB switchover: group on ``xxhash64(shingle)`` and carry
    ``min(shingle)`` as the exemplar so the exchange moves 8-byte keys, not
    strings; widen to 13-gram shingles (the Lee et al. operating point) —
    both leave this plan shape unchanged."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
        .limit(DUP_PASSAGE_TOP)
    )


DUPLICATE_PASSAGES_ORACLE = f"""
WITH {_SHINGLES_SQL}
SELECT shingle, COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM shingles
GROUP BY shingle
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, shingle ASC
LIMIT {DUP_PASSAGE_TOP}
"""


# -- MinHash + LSH near-dup candidates ---------------------------------------

def _minhash_consts() -> list[tuple[int, int]]:
    """(a_j, b_j) per hash function, derived from the portable hash so both
    engines share them; a_j forced odd/nonzero for a proper universal family."""
    from ..functions.hashing import PHASH_P, phash_py

    return [
        (phash_py(j, 1, seed=909) | 1, phash_py(j, 2, seed=909) % PHASH_P)
        for j in range(MINHASH_K)
    ]


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, index: "_LshIndex | None" = None
) -> DataFrame:
    """MinHash(16)/LSH(4x4) candidate pairs.

    Hash family: ONE md5 per shingle parsed to a 56-bit integer, then 16
    universal-hash rehashes ``(a_j·h + b_j) mod p`` (Carter–Wegman) — 16×
    cheaper than 16 md5 passes and portable (DuckDB parses '0x…'::BIGINT,
    Spark uses conv(hex,16,10); both yield the identical integer). Band key
    = md5 of 4 signature values; docs sharing any band bucket become a
    candidate pair. Output: (doc_a, doc_b, n_shared_bands). No output sort —
    the pair list is full-output-sized on a dup-dense corpus (the
    event_gaps contract; the correctness compare is order-insensitive).

    Hot-bucket guard (r9 verdict item 2): exact-duplicate documents have
    identical signatures, so a g-member boilerplate group used to put g
    rows in EVERY one of its band buckets and the self-join emitted
    4·C(g,2) rows before any downstream bound. Identical texts now enter
    banding ONCE (``_lsh_index`` collapses md5(text) groups to their
    min-doc_id representative), the self-join runs on representatives,
    and member pairs are restored by ``_expand_pairs`` — bit-identical
    output (signatures, hence band keys and n_shared_bands, are pure
    functions of the text): within a group every pair shares all
    ``MINHASH_BANDS`` bands; across groups the rep-level count applies to
    every member pair. The join is then bounded by DISTINCT-text bucket
    occupancy; the expansion is output-sized, which for a pair-reporting
    face is the floor."""
    idx = index if index is not None else _lsh_index(spark, sf_dir)
    return _expand_pairs(_rep_band_edges(idx), idx.groups, ["n_shared_bands"])


def _rep_band_edges(idx: "_LshIndex") -> DataFrame:
    """Representative-level LSH edges (ga, gb, n_shared_bands), ga <= gb:
    the band self-join over one-row-per-distinct-text bands, plus one
    self-loop per multi-member group (identical texts share all bands by
    definition — no join needed to know it)."""
    rb = idx.rep_bands
    cross = (
        rb.alias("a")
        .join(rb.alias("b"), ["band", "bkey"])
        .filter(F.col("a.gid") < F.col("b.gid"))
        .groupBy(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return cross.unionByName(_self_loops(idx))


def _self_loops(idx: "_LshIndex") -> DataFrame:
    return idx.multi_gids.select(
        F.col("gid").alias("ga"),
        F.col("gid").alias("gb"),
        F.lit(MINHASH_BANDS).cast("long").alias("n_shared_bands"),
    )


def _chained_band_edges(idx: "_LshIndex", cap: int) -> DataFrame:
    """Bounded candidate edges for the CAPPED faces (r9 verdict item 2,
    second half — per-bucket contribution cap): within each band bucket,
    representatives ordered by gid probe only their next ``cap``
    neighbors, so a bucket of g DISTINCT texts emits at most g·cap chain
    rows instead of C(g,2) (exact duplicates never reach the bucket —
    the index collapsed them; their members rejoin via the self-loops).
    The probe is an EQUI-join on (band, bkey, rank): ranks are unique
    within a bucket, so even a mega bucket has no hot join key — the
    quadratic blowup is structurally impossible, not just mitigated.

    ``n_shared_bands`` here counts the bands in which the pair is
    CHAIN-ADJACENT — equal to the true shared-band count whenever bucket
    occupancy <= cap+1 (every bucket at the sf0.01 gate), a lower bound
    under flood. The per-doc candidate ranking consumes it as the same
    similarity signal. What the chain may lose under flood is exactly
    what ``neardup_topk_recall_audit`` measures against the uncapped
    spelling; production recovers chain misses by deepening bands or
    raising the cap (the SIMHASH_BAND_CAP recovery note), and the
    uncapped faces keep the exhaustive contract."""
    wb = Window.partitionBy("band", "bkey")
    ranked = idx.rep_bands.select(
        "gid",
        "band",
        "bkey",
        F.row_number().over(wb.orderBy("gid")).alias("r"),
        F.count(F.lit(1)).over(wb).alias("n"),
    )
    probes = ranked.filter(F.col("r") < F.col("n")).select(
        "band",
        "bkey",
        F.col("gid").alias("ga"),
        F.explode(
            F.sequence(
                F.col("r") + 1, F.least(F.col("n"), F.col("r") + cap)
            )
        ).alias("r2"),
    )
    chain = probes.join(
        ranked.select(
            "band", "bkey", F.col("gid").alias("gb"), F.col("r").alias("r2")
        ),
        ["band", "bkey", "r2"],
    )
    cross = chain.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )
    return cross.unionByName(_self_loops(idx))


# broadcast gate for the expansion's member-list frame: rows = docs that
# HAVE an exact duplicate (the multi-group members), usually a tiny slice
# of the corpus. Same actual-row-count gating as CC_BROADCAST_LABELS_MAX
# — a hint proxy could ship a huge map on a boilerplate-heavy corpus.
EXPAND_BROADCAST_MAX = 2_000_000


def _expand_pairs(
    edges: DataFrame,
    groups: DataFrame,
    payload: list[str],
    swap: dict[str, str] | None = None,
) -> DataFrame:
    """Rep-level edges (ga, gb, *payload) → member pairs (doc_a, doc_b,
    *payload): every (x ∈ ga, y ∈ gb) combination for cross edges, every
    unordered member pair for self-loops. The payload is text-invariant
    by construction (similarity of identical texts), so copying it is
    exact. Output-sized by definition; a self-loop over a g-member group
    emits its C(g,2) pairs — inherent to any full-pair contract, and
    exactly what the capped/top-k faces avoid.

    Cost on a dup-FREE corpus is ~zero: only multi-member groups carry a
    member list (collected once from the checkpointed groups frame,
    broadcast when small — the common case); every other gid expands to
    itself via coalesce inside the same stage, so no shuffle is added to
    the pair stream when the collapse found nothing to collapse.

    ``swap`` handles DIRECTIONAL payloads (containment): when the member
    pair's canonical least/greatest order flips the rep edge's (ga, gb)
    orientation, each column in the map takes its partner's value —
    containment of the new doc_a in the new doc_b IS the rep edge's
    reverse direction."""
    swap = swap or {}
    partner = {**swap, **{v: k for k, v in swap.items()}}
    flip = F.col("xa") > F.col("xb")
    out = [
        F.when(flip, F.col(partner[p])).otherwise(F.col(p)).alias(p)
        if p in partner
        else F.col(p)
        for p in payload
    ]
    multi_members = (
        groups.groupBy("gid")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ms"))
        .filter(F.size("ms") >= 2)
        .localCheckpoint()
    )
    n_members = multi_members.select(
        F.coalesce(F.sum(F.size("ms")), F.lit(0)).alias("n")
    ).first()["n"]
    if n_members <= EXPAND_BROADCAST_MAX:
        multi_members = F.broadcast(multi_members)
    ma = multi_members.select(
        F.col("gid").alias("ga"), F.col("ms").alias("ms_a")
    )
    mb = multi_members.select(
        F.col("gid").alias("gb"), F.col("ms").alias("ms_b")
    )
    return (
        edges.join(ma, "ga", "left")
        .join(mb, "gb", "left")
        .withColumn(
            "xa", F.explode(F.coalesce("ms_a", F.array(F.col("ga"))))
        )
        .withColumn(
            "xb", F.explode(F.coalesce("ms_b", F.array(F.col("gb"))))
        )
        .filter((F.col("ga") != F.col("gb")) | (F.col("xa") < F.col("xb")))
        .select(
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
            *out,
        )
    )


def _capped_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    cap: int | None = NEARDUP_CAND_CAP,
    index: "_LshIndex | None" = None,
) -> DataFrame:
    """Banded MinHash candidate pairs, capped per document BEFORE exact
    verification (r8 verdict item 2): each doc keeps its ``cap`` most
    promising candidates by shared-band count (the similarity signal the
    banding already computed for free — pairs colliding in more bands
    have higher estimated Jaccard), ties broken by neighbor id so the
    cap replays deterministically in the DuckDB oracle. A pair survives
    when EITHER endpoint keeps it, so verification is bounded by
    2·cap·|docs| regardless of dup-group density. ``cap=None`` returns
    the uncapped candidates (the recall-audit comparator); ``index``
    lets a caller that already materialized the banded index (the recall
    audit builds SIX spellings over one) skip rebuilding it.

    Truncated expansion (r9 verdict item 2): the cap is applied WITHOUT
    materializing the full member-pair expansion. Candidates of doc d
    ranked by (n_shared_bands DESC, neighbor ASC) come whole-group at a
    time — every member of a neighbor group shares d's rep-level band
    count — so any candidate d can keep is among its group's ``cap+1``
    smallest doc_ids (were cap+1 same-group ids ahead of it, they alone
    would fill the cap; +1 covers d occupying a slot in its own group).
    Each group therefore contributes at most cap+1 ids (precomputed by
    one sort_array/slice), the per-doc frame is (#neighbor groups)·
    (cap+1) rows instead of Σ group sizes, and a 10⁴-member boilerplate
    group costs O(g·cap), not O(g²). Candidate enumeration itself is
    bounded too: edges come from the per-bucket CHAIN generator
    (``_chained_band_edges``), so distinct-text bucket floods cannot go
    quadratic either. The DuckDB oracle replays the identical chain rule
    and cap over the FULL expansion — equality is the proof."""
    idx = index if index is not None else _lsh_index(spark, sf_dir)
    if cap is None:
        return minhash_lsh_pairs(spark, sf_dir, index=idx).select(
            "doc_a", "doc_b"
        )
    edges = _chained_band_edges(idx, cap)
    sym_edges = edges.select(
        F.col("ga").alias("gid"), F.col("gb").alias("ngid"), "n_shared_bands"
    ).unionByName(
        edges.filter(F.col("ga") != F.col("gb")).select(
            F.col("gb").alias("gid"),
            F.col("ga").alias("ngid"),
            "n_shared_bands",
        )
    )
    trunc = idx.groups.groupBy(F.col("gid").alias("ngid")).agg(
        F.slice(
            F.sort_array(F.collect_list("doc_id")), 1, cap + 1
        ).alias("nbrs")
    )
    cand = (
        idx.groups.join(sym_edges, "gid")
        .join(trunc, "ngid")
        .select(
            "doc_id", "n_shared_bands", F.explode("nbrs").alias("neighbor")
        )
        .filter(F.col("neighbor") != F.col("doc_id"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_shared_bands").desc(), F.col("neighbor").asc()
    )
    kept = cand.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= cap
    )
    return kept.select(
        F.least("doc_id", "neighbor").alias("doc_a"),
        F.greatest("doc_id", "neighbor").alias("doc_b"),
    ).distinct()


def _capped_cand_sql(cap: int | None = NEARDUP_CAND_CAP) -> str:
    """CTE chain ending in ``cand (doc_a, doc_b)`` — the SQL twin of
    ``_capped_lsh_candidates``: identical exact-dup collapse (gid = min
    doc_id over md5(text)), identical per-bucket chain rule (each rep
    pairs with its next ``cap`` gid-ordered bucket neighbors), identical
    self-loops, identical per-doc cap ranking and tie-break — replayed
    over the FULL member expansion (the Spark side's truncated expansion
    is provably equal; this spelling is the proof)."""
    if cap is None:
        return f"cand AS (SELECT doc_a, doc_b FROM ({minhash_lsh_oracle()}))"
    return f"""cand AS (
    WITH {_minhash_bands_sql()},
    gmap AS (
        SELECT doc_id, gid FROM (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS gid
            FROM documents
        )
        WHERE doc_id IN (SELECT DISTINCT doc_id FROM bands)
    ),
    rb AS (
        SELECT g.gid, b.band, b.bkey
        FROM bands b JOIN gmap g ON g.doc_id = b.doc_id AND g.doc_id = g.gid
    ),
    ranked AS (
        SELECT gid, band, bkey,
               ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY gid) AS r,
               COUNT(*) OVER (PARTITION BY band, bkey) AS n
        FROM rb
    ),
    chain AS (
        SELECT a.gid AS ga, b.gid AS gb, COUNT(*) AS nsb
        FROM ranked a
        JOIN ranked b ON b.band = a.band AND b.bkey = a.bkey
                     AND b.r > a.r AND b.r <= a.r + {cap}
        GROUP BY 1, 2
    ),
    loops AS (
        SELECT gid AS ga, gid AS gb, CAST({MINHASH_BANDS} AS BIGINT) AS nsb
        FROM gmap GROUP BY gid HAVING COUNT(*) >= 2
    ),
    edges AS (
        SELECT ga, gb, nsb FROM chain
        UNION ALL
        SELECT ga, gb, nsb FROM loops
    ),
    sym AS (
        SELECT ga AS gid, gb AS ngid, nsb FROM edges
        UNION ALL
        SELECT gb AS gid, ga AS ngid, nsb FROM edges WHERE ga <> gb
    ),
    cand_sym AS (
        SELECT m.doc_id, x.doc_id AS neighbor, s.nsb
        FROM gmap m
        JOIN sym s ON s.gid = m.gid
        JOIN gmap x ON x.gid = s.ngid
        WHERE x.doc_id <> m.doc_id
    ),
    kept AS (
        SELECT doc_id, neighbor FROM (
            SELECT doc_id, neighbor,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY nsb DESC, neighbor ASC
                   ) AS rr
            FROM cand_sym
        ) WHERE rr <= {cap}
    )
    SELECT DISTINCT LEAST(doc_id, neighbor) AS doc_a,
                    GREATEST(doc_id, neighbor) AS doc_b
    FROM kept
)"""


class _LshIndex(NamedTuple):
    """The materialized banded-MinHash index, exact-dup-collapsed
    (r9 verdict item 2 — the hot-bucket guard):

    - ``groups``: (doc_id, gid) for every banded doc (>= SHINGLE_N
      tokens); gid = min doc_id over the doc's md5(text) group, i.e.
      ``dedup_exact``'s canonical id restricted to banded docs.
    - ``rep_bands``: (gid, band, bkey) — band rows for ONE representative
      per distinct text, the only rows any self-join sees.
    - ``multi_gids``: (gid) groups with >= 2 members — exactly the
      self-loop edges (identical texts share every band by definition).

    All three are localCheckpoint'd: every face of the family (pairs,
    capped candidates, clusters, the recall audit's six spellings) reads
    the materialized frames instead of replaying the signature subtree."""

    groups: DataFrame
    rep_bands: DataFrame
    multi_gids: DataFrame


# EVERY face of the near-dup family starts from the same (groups,
# rep_bands) frames, and a driver window / bench run evaluates many of
# them back-to-back — without the session memo each face replays the
# signature scan + group window + checkpoints.
def _lsh_index(spark: SparkSession, sf_dir: str) -> _LshIndex:
    """The collapsed index, session-memoized (``memo.py``)."""
    from ..memo import session_memo

    return session_memo(
        spark, "lsh_index", lambda: _build_lsh_index(spark, sf_dir),
        tables=[(sf_dir, "documents")],
    )


def _build_lsh_index(spark: SparkSession, sf_dir: str) -> _LshIndex:
    """Build the collapsed index. The signature stays
    row-local in the scan exactly as before (no pre-join exchange for
    it); the ONE new shuffle is the narrow (doc_id, fp, 16×bigint ≈
    160 B/row) window that assigns group ids — in exchange, duplicate
    texts never enter the band frame, so the band self-join's bucket
    occupancy is bounded by DISTINCT-text collisions and the boilerplate
    mega-bucket (g identical docs → 4·C(g,2) join rows) cannot occur.
    Signatures are still computed for every doc (cheaper than shuffling
    text or hashed shingle arrays to collapse first); a corpus with
    extreme dup rates can flip that trade by grouping on md5(text)
    before signing, at the cost of one corpus-wide text exchange. Hash
    family documented in ``minhash_lsh_pairs``."""
    from ..functions.hashing import PHASH_P

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # nested zip_with over three offset slices, NOT transform+element_at:
    # element_at inside a lambda re-evaluates the array argument per
    # element (→ re-splits the text per shingle, O(words²) per doc); each
    # slice evaluates the split once per row.
    shingle_arr = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - (SHINGLE_N - 1)),
                F.slice(toks, 2, F.size(toks) - (SHINGLE_N - 1)),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(toks, 3, F.size(toks) - (SHINGLE_N - 1)),
            lambda ab, c: F.concat_ws(" ", ab, c),
        )
    )
    # the ENTIRE signature is row-local: hash the shingle array in place,
    # then each minhash is an array_min over a rehash — no explode, no
    # pre-join exchange at all (the band self-join is this plan's only
    # shuffle). Semantically identical to the grouped-min spelling the
    # DuckDB oracle keeps.
    hs = F.transform(
        shingle_arr,
        lambda s: F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("bigint")
        % F.lit(PHASH_P),
    )
    def _rehash(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(PHASH_P)

    sig = spread(docs.filter(F.size(toks) >= SHINGLE_N)).select(
        "doc_id", F.md5("text").alias("fp"), hs.alias("hs")
    ).select(
        "doc_id",
        "fp",
        *[
            F.array_min(F.transform("hs", _rehash(a, b))).alias(f"mh{j}")
            for j, (a, b) in enumerate(_minhash_consts())
        ],
    )
    sig_g = sig.withColumn(
        "gid", F.min("doc_id").over(Window.partitionBy("fp"))
    ).drop("fp")
    groups = sig_g.select("doc_id", "gid").localCheckpoint()
    rep_sig = sig_g.filter(F.col("doc_id") == F.col("gid"))
    rows_per_band = MINHASH_K // MINHASH_BANDS
    # one explode instead of a 4-way union: the union spelling recomputes
    # the signature aggregate once per band (and once more per join side)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            f"mh{b * rows_per_band + r}"
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bkey"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    rep_bands = (
        rep_sig.select("gid", F.explode(band_structs).alias("bb"))
        .select(
            "gid", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )
        # every consumer (both sides of the pair self-join, or the star-
        # edge window) re-reads this 4×|distinct texts|-row frame; without
        # materialization the shingle→md5→signature subtree (the expensive
        # part) executes once per consumer. localCheckpoint, not cache: its
        # blocks are reference-GC'd when the query's frames go out of
        # scope, so a long session (82-query bench, notebook) never
        # accumulates pinned cache entries
        .localCheckpoint()
    )
    # no checkpoint: a one-agg derivation of the checkpointed groups
    # frame — materializing it eagerly cost a fixed job per query
    # construction for nothing
    multi_gids = (
        groups.groupBy("gid")
        .agg(F.count(F.lit(1)).alias("g_size"))
        .filter(F.col("g_size") >= 2)
        .select("gid")
    )
    return _LshIndex(groups=groups, rep_bands=rep_bands, multi_gids=multi_gids)


def _minhash_bands_sql() -> str:
    """CTE chain (toks, shingles, hashed, sig, bands) — the doc-level LSH
    band frame, shared by the exhaustive pair oracle and the
    capped-candidate oracle (both replay the UNCOLLAPSED band frame; the
    capped one derives the rep level itself)."""
    from ..functions.hashing import PHASH_P

    rows_per_band = MINHASH_K // MINHASH_BANDS
    aggs = ", ".join(
        f"MIN((h * {a} + {b}) % {PHASH_P}) AS mh{j}"
        for j, (a, b) in enumerate(_minhash_consts())
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bkey FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""{_SHINGLES_SQL},
hashed AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(shingle), 1, 14) AS BIGINT) % {PHASH_P} AS h
    FROM shingles
),
sig AS (SELECT doc_id, {aggs} FROM hashed GROUP BY doc_id),
bands AS (
    {band_selects}
)"""


def minhash_lsh_oracle() -> str:
    return f"""
WITH {_minhash_bands_sql()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY doc_a, doc_b
"""


# -- data-mixture rebalancing -------------------------------------------------

MIXTURE_SEED = 31


def balanced_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing: deterministic Bernoulli downsample so every
    language contributes ~equally (rate_lang = min_count / count_lang) —
    the training-data-mixture op every multilingual corpus build runs.

    Keep decision = portable-hash(doc_id) / P < rate: engine-replayable
    (same doc survives in Spark, DuckDB, and any rerun — resumable
    pipelines need this), and embarrassingly parallel — the per-stratum
    rates are a |langs|-row aggregate joined back broadcast, the filter is
    a narrow per-row expression. No sort, no per-stratum shuffle; compare
    ``sampleBy``, whose fractions the caller must precompute anyway but
    whose seed semantics are partition-dependent. Rates divide exact
    BIGINT counts, so both engines compare identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    rates = counts.select(
        "lang",
        (
            F.min("n").over(Window.partitionBy()).cast("double")
            / F.col("n").cast("double")
        ).alias("rate"),
    )
    u = F.expr(phash_frag("doc_id", seed=MIXTURE_SEED)).cast("double") / F.lit(
        float(PHASH_P)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .select("doc_id", "lang")
        # no output sort: per-doc sample table (event_gaps contract)
    )


def balanced_mixture_sample_oracle() -> str:
    return f"""
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
rates AS (
    SELECT lang,
           CAST(MIN(n) OVER () AS DOUBLE) / CAST(n AS DOUBLE) AS rate
    FROM counts
)
SELECT doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE CAST({phash_frag('doc_id', seed=MIXTURE_SEED)} AS DOUBLE)
      / CAST({PHASH_P} AS DOUBLE) < r.rate
ORDER BY doc_id
"""


STRAT_QUOTA = 30  # docs per language stratum
STRAT_SEED = 53


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard per-stratum quota sampling: exactly min(quota, |stratum|) docs
    per language, chosen by portable-hash order (doc_id tiebreak) — the
    deterministic complement of ``balanced_mixture_sample``'s Bernoulli
    rates, for when the mixture spec demands exact counts.

    Scale: the rank-within-stratum window shuffles by lang — a LOW
    cardinality key, so at 100 TB the right spelling is
    ``stratified_sample_threshold`` (registered against this SAME
    oracle): prune by a per-stratum hash threshold derived from the
    hash's uniformity, keep only the boundary exact. This window form is
    the semantic definition both are checked against."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(phash_frag("doc_id", seed=STRAT_SEED))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= STRAT_QUOTA)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    )


def stratified_sample_oracle() -> str:
    return f"""
SELECT doc_id, lang, rn FROM (
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ({phash_frag('doc_id', seed=STRAT_SEED)}) ASC,
                        doc_id ASC
           ) AS INT) AS rn
    FROM documents
) WHERE rn <= {STRAT_QUOTA}
ORDER BY lang, rn
"""


STRAT_THR_SLACK = 2.0  # starting over-admit factor for the threshold pass
STRAT_THR_MAX_DOUBLINGS = 5  # escalation ceiling: slack up to 2.0·2^5 = 64


def stratified_sample_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE spelling of ``stratified_sample`` — hash-threshold prune
    + exact boundary, same output bit-for-bit (it registers against the
    SAME oracle, so the driver continuously proves the equivalence):

    1. One aggregate computes the exact stratum counts (dimension-sized;
       production reads them off table stats for free).
    2. The corpus is FILTERED against a broadcast per-stratum threshold
       P·quota·slack/n — pure arithmetic, no percentile sketch. The
       quota-th smallest hash concentrates there for an i.i.d.-uniform
       key, but the portable shuffle key is AFFINE in doc_id
       (functions/hashing.py: h = A·id + c mod P), and an affine image
       of a STRUCTURED id set is an arithmetic progression whose count
       below a small threshold can deviate far beyond the binomial tail
       (three-distance/discrepancy, not variance). Measured on the ×100
       replica's shifted-union ids: expected ~60 admitted, observed
       26–60 across scales — the ×100 run undershot a 30-doc quota.
       So the slack ESCALATES: on under-admission the filter re-runs
       with slack doubled (up to ``STRAT_THR_MAX_DOUBLINGS``), trading a
       rare extra scan for a sample that is never silently short. The
       escalation changes WHICH candidates pre-filter, never the output:
       the exact rank stage (3) picks the same quota-smallest hashes.
    3. The exact rank window runs over the boundary survivors only, and
       the LOUD guard remains behind the escalation — if even slack 64
       misses, the error names the knob rather than under-sampling.

    The full-sort twin shuffles every row of a 100 TB corpus into
    |langs| sort partitions; this spelling shuffles ~|langs|·quota·slack
    rows after a scan-shaped filter, re-scanning only when the
    discrepancy of a pathological id set defeats the current slack."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.expr(phash_frag("doc_id", seed=STRAT_SEED))
    hd = docs.withColumn("h", h)
    stats = hd.groupBy("lang").agg(F.count(F.lit(1)).alias("n_stratum"))
    w = Window.partitionBy("lang").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    slack = STRAT_THR_SLACK
    short = None
    for _ in range(STRAT_THR_MAX_DOUBLINGS + 1):
        thr = F.lit(float(PHASH_P) * STRAT_QUOTA * slack) / F.col("n_stratum")
        cand = hd.join(F.broadcast(stats), "lang").filter(
            (F.col("h") <= thr) | (F.col("n_stratum") <= STRAT_QUOTA)
        )
        # materialize the boundary survivors (~|langs|·quota·slack rows) so
        # the guard's collect and the returned frame share one execution of
        # the corpus pipeline instead of running it twice
        ranked = cand.withColumn(
            "rn", F.row_number().over(w).cast("int")
        ).localCheckpoint()
        # under-admission guard: any stratum with fewer survivors than
        # min(quota, n) means the threshold missed. LEFT join from stats
        # so a stratum with ZERO survivors (absent from ranked entirely —
        # the worst miss) is still seen
        got = ranked.groupBy("lang").agg(F.max("rn").alias("got"))
        short = (
            stats.join(got, "lang", "left")
            .filter(
                F.coalesce("got", F.lit(0))
                < F.least(F.lit(STRAT_QUOTA), F.col("n_stratum"))
            )
            .limit(1)
            .collect()
        )
        if not short:
            break
        last_tried = slack  # the slack that actually failed, for the error
        slack *= 2
    if short:
        raise ValueError(
            f"stratified_sample_threshold: stratum {short[0]['lang']!r} "
            f"admitted {short[0]['got'] or 0} < min(quota, n) rows even at "
            f"slack {last_tried} — raise STRAT_THR_MAX_DOUBLINGS"
        )
    return (
        ranked.filter(F.col("rn") <= STRAT_QUOTA)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    )


DOC_LEN_PCTS = [0.25, 0.5, 0.75, 0.95]


def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution: exact interpolated
    percentiles of character count — the length-filter calibration read
    every curation pass starts from. Exact twin of the sketch profile in
    ``approx_profiles``; both engines use the same linear-interpolation
    definition (index p·(n−1)), so values match bit-for-bit after
    rounding. One grouped aggregation, map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    pct_arr = ", ".join(str(p) for p in DOC_LEN_PCTS)
    pcts = F.expr(f"percentile(length(text), array({pct_arr}))")
    sel = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 6).alias("mean_chars"),
    ] + [
        F.round(pcts[i], 6).alias(f"p{int(p * 100)}")
        for i, p in enumerate(DOC_LEN_PCTS)
    ]
    return docs.groupBy("lang").agg(*sel).orderBy("lang")


def doc_length_percentiles_oracle() -> str:
    cols = ", ".join(
        f"ROUND(quantile_cont(length(text), {p}), 6) AS p{int(p * 100)}"
        for p in DOC_LEN_PCTS
    )
    return f"""
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(length(text)), 6) AS mean_chars, {cols}
FROM documents GROUP BY lang ORDER BY lang
"""


# -- near-dup clustering (connected components) ------------------------------

CC_MAX_ITERS = 20  # safety cap ≥ log2 of any realistic dedup-graph diameter
_CC_LAST_ROUNDS = 0  # test hook: rounds the last _connected_components ran
# broadcast the final label frame only when it is provably small:
# 2M (long, long) rows ≈ 32 MB serialized — comfortably under executor
# memory at any fan-out, and measured against the real row count, never
# an edge-derived proxy
CC_BROADCAST_LABELS_MAX = 2_000_000


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs — the
    dedup family's final stage: every document gets a cluster id (the min
    doc_id in its component; singletons cluster to themselves), and
    "keep one per cluster" is then ``filter(doc_id == cluster)``.

    Algorithm: iterative hash-min label propagation — each round every
    node takes the min label among itself and its neighbors; converges in
    O(component diameter) rounds. Near-dup graphs are shallow (dup
    clusters are near-cliques thanks to LSH banding), so the loop is
    short; at adversarial diameters the same loop slots in the
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce"). Each round is ONE shuffle of the edge
    list; ``localCheckpoint`` truncates lineage so the plan does not grow
    exponentially with iterations (the classic iterative-DataFrame trap).
    Convergence is detected by a changed-label count, which shares the
    round's shuffle work. Not expressible as one SQL query in Spark —
    the DuckDB oracle uses WITH RECURSIVE for the same fixpoint.

    Edge generation is STAR edges per LSH bucket — (bucket-min doc,
    member) — not the all-pairs collisions ``minhash_lsh_pairs`` reports:
    labels depend only on CONNECTIVITY, and within a band bucket every
    member is connected through the minimum, so the component labels are
    IDENTICAL (the oracle keeps replaying the all-pairs fixpoint and
    still matches) while a dup group of g docs contributes O(g) edges
    instead of O(g²). On a dup-heavy corpus this is the difference
    between linear and quadratic: the ×100 replica (dup groups of ~100)
    generates ~119M collision pairs but only ~2.4M star edges.

    With the exact-dup collapse (r9 verdict item 2) the stars are two
    disjoint tiers: per-bucket stars over REPRESENTATIVE bands (one row
    per distinct text) plus one star per md5(text) group (gid → member).
    Connectivity is unchanged — a member reaches everything its rep
    reaches, and identical texts were mutually connected through their
    shared buckets anyway — and the component minimum is preserved
    because gid IS its group's min doc_id. Labels are therefore
    bit-identical while boilerplate groups stop inflating bucket windows."""
    idx = _lsh_index(spark, sf_dir)
    w = Window.partitionBy("band", "bkey")
    rep_star = (
        idx.rep_bands.withColumn("root", F.min("gid").over(w))
        .filter(F.col("gid") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("gid").alias("doc_b"))
        .distinct()
    )
    member_star = idx.groups.filter(F.col("doc_id") != F.col("gid")).select(
        F.col("gid").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # the tiers are disjoint by construction (rep_star targets are gids,
    # member_star targets are non-rep members) — no cross-tier distinct
    pairs = rep_star.unionByName(member_star)
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    return _connected_components(nodes, pairs)


def _connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Hash-min label propagation over undirected ``pairs`` edges; every
    ``nodes.doc_id`` labeled with its component's min doc_id. Split out so
    tests can plant a path graph and prove multi-hop convergence.

    The iteration runs over the EDGE-TOUCHED subgraph only: an isolated
    node (no near-dup pair — the overwhelming majority of a real corpus)
    can never change label, so it joins the result at the end as its own
    singleton cluster instead of riding |corpus|-sized label frames through
    every round. Per-round work is then O(|edges|), independent of corpus
    size — at 100 TB the difference between iterating over a few million
    near-dup candidates and re-shuffling the whole lake per round."""
    edges_cached = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .cache()
    )
    # size the EDGES frame's layout to the subgraph, not the session
    # default: the near-dup edge set is typically orders of magnitude
    # smaller than the corpus, and 32-task rounds over a few hundred
    # edges spend more scheduler time than compute (measured ~25% of the
    # loop locally). One partition per ~100k edges scales the same
    # decision to a cluster (10M edges → 100 partitions). The per-round
    # label aggregate shuffles at the session default and AQE coalesces
    # it (r10 ADVICE: npart no longer re-keys the label frames). The
    # count also materializes the cache so the pair pipeline runs once.
    npart = max(1, -(-edges_cached.count() // 100_000))
    edges = edges_cached.repartition(npart, "doc_b").localCheckpoint()
    touched = edges.select("doc_a").distinct().select(F.col("doc_a").alias("doc_id"))
    labels = (
        touched.select("doc_id", F.col("doc_id").alias("cluster"))
        .repartition(npart, "doc_id")
        .localCheckpoint()
    )
    # Per-round materialization stays localCheckpoint, NOT a
    # lineage-preserving persist (r11, the r10-verdict item 4 experiment,
    # measured and REJECTED): each round references the previous label
    # frame three times (own labels, the message join, the shortcut
    # self-join), so with lineage intact the analyzed logical plan grows
    # ~3^rounds — a 10-node path graph spent 295 s in driver-side
    # analysis before any task ran. Truncation per round is structural
    # for this loop; executor-loss recovery at scale comes from a
    # RELIABLE checkpoint dir instead (see SCALE.md).
    #
    # convergence = unchanged exact label sum: labels are monotone
    # non-increasing, so an equal sum between rounds IS the fixpoint — one
    # tiny aggregate per round instead of a labels⋈labels changed-count
    # join (decimal(38,0) keeps the sum exact and overflow-free at any id
    # range).
    prev_sum = None
    rounds = 0
    for r in range(CC_MAX_ITERS):
        # one union-min round (r10, guide §2.4): min(own ∪ neighbor
        # labels) in a single grouped aggregate — plus, from the SIXTH
        # round on, the r11 POINTER-DOUBLING term: each node also reads
        # its label's label through the materialized frame (hops), so
        # label chains halve per round and the fixpoint arrives in
        # O(log diameter) rounds instead of O(diameter). Why adaptive:
        # the star-shaped dedup graphs the gate/bench corpora produce
        # converge in 3-5 rounds, where the shortcut's self-join is pure
        # overhead (measured at sf0.1: rounds stayed 3->3 and 5->5 while
        # the hops join cost +0.2-0.4 s per consumer); a graph still
        # unconverged after five plain rounds has genuine label chains —
        # exactly the case the doubling collapses, and what makes the
        # CC_MAX_ITERS=20 ceiling cover diameter ~2^14 instead of 19.
        # Output-identical either way: labels stay monotone
        # non-increasing and within the node's component (label(v) is a
        # component member's id, so label(label(v)) is too), so any
        # subset of rounds may carry the extra min-term — the fixpoint
        # is the same component minimum, and an unchanged sum still
        # certifies the plain fixpoint. At 100 TB the scaling term is
        # rounds × full label shuffle; this bounds the round count
        # without taxing the shallow common case.
        msgs = edges.join(labels, edges.doc_b == labels.doc_id).select(
            F.col("doc_a").alias("doc_id"), "cluster"
        )
        stream = labels.unionByName(msgs)
        if r >= 5:
            hops = (
                labels.alias("l1")
                .join(
                    labels.alias("l2"),
                    F.col("l1.cluster") == F.col("l2.doc_id"),
                )
                .select(
                    F.col("l1.doc_id").alias("doc_id"),
                    F.col("l2.cluster").alias("cluster"),
                )
            )
            stream = stream.unionByName(hops)
        # the convergence sum rides the checkpoint's own materialization
        # job via observe() (r11, r10 verdict item 7): one Spark job per
        # round where checkpoint + separate aggregate paid two
        obs = Observation(f"cc_sum_r{r}")
        new_labels = (
            stream.groupBy("doc_id")
            .agg(F.min("cluster").alias("cluster"))
            .observe(
                obs, F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint()
        )
        cur_sum = obs.get["s"]
        labels = new_labels
        rounds += 1
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    global _CC_LAST_ROUNDS
    _CC_LAST_ROUNDS = rounds
    edges_cached.unpersist()
    # singletons re-attach as their own cluster — no shuffle grows with
    # them. The label side is |touched| rows; gate the broadcast hint on
    # that ACTUAL row count (the hint bypasses Spark's size threshold, so
    # an edge-derived proxy like npart could ship a multi-hundred-MB
    # label table to every executor on a dup-heavy corpus). labels is
    # persisted and already materialized, so the count reads the cache.
    # Without the hint the corpus-sized node scan pays a sort-merge
    # exchange for nothing.
    lbl = (
        F.broadcast(labels)
        if labels.count() <= CC_BROADCAST_LABELS_MAX
        else labels
    )
    return (
        nodes.join(lbl, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
        )
        # no output sort: per-node label table (event_gaps contract)
    )


def dedup_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({minhash_lsh_oracle()})
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, MIN(root) AS cluster
FROM reach GROUP BY node ORDER BY doc_id
"""


def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame as a registered query: connected components over
    the near-dup pairs, then ONE representative per cluster by keep-policy
    (longest text, doc_id tiebreak) with member accounting — the rows a
    production dedup pass actually writes out. Composition:
    ``minhash_lsh_pairs`` → ``dedup_clusters`` → per-cluster argmax.

    Scale: the argmax window partitions by cluster id over |corpus| rows
    carrying only (cluster, doc_id, length) — the text itself never enters
    the shuffle; the kept docs are recovered by a final semi-join."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    sized = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        sized.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("cluster")
    )


def dedup_representatives_oracle() -> str:
    return f"""
WITH clusters AS ({dedup_clusters_oracle().replace("ORDER BY doc_id", "")}),
sized AS (
    SELECT c.cluster, c.doc_id, length(d.text) AS n_chars
    FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
),
ranked AS (
    SELECT cluster, doc_id, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC
           ) AS rn
    FROM sized
)
SELECT cluster,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
       COUNT(*) AS n_members,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ranked GROUP BY cluster ORDER BY cluster
"""


# -- char-trigram language-model quality scoring ------------------------------

def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (the KenLM-shaped member of the
    quality family): fit a char-trigram unigram model on the corpus
    (P(t) = count(t)/total), score every document by mean log-probability
    of its trigrams and the perplexity-style exp(−mean). Low-probability
    (garbled / off-distribution) documents surface with high pplx — the
    classic pretraining-corpus quality filter.

    Scale: the model is the trigram vocabulary — bounded (≤ |charset|³,
    ~50k real entries) and broadcastable at ANY corpus size; scoring is
    one explode + one broadcast join + one per-doc aggregation. The
    trigram stream never re-shuffles: count aggregation is map-side
    combined, and the per-doc mean keys on doc_id. ``spread`` splits the
    under-partitioned small-file input before the per-char explode — the
    most expensive projection in this plan (a real cluster's scans arrive
    pre-split; see sources.io)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # length guard: Spark's sequence(1, n) DESCENDS for n < 1 (the same
    # trap bigram_counts documents) — short docs must not reach it
    # explode the POSITIONS and slice with a plain substring (r10
    # optimization, guide §4.1): the former transform(sequence, i ->
    # substring) lambda evaluated interpreted and materialized an array
    # of n string copies per row — per CONSUMER (this stream feeds both
    # the model build and the scoring join). The generator + substring
    # spelling stays inside whole-stage codegen; identical trigrams.
    tri = docs.filter(F.length("text") >= 3).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - 2)
        ).alias("i"),
    ).select("doc_id", F.expr("substring(text, i, 3)").alias("tri"))
    # the trigram stream feeds BOTH the model build and the scoring join —
    # and is deliberately NOT materialized: a localCheckpoint of the
    # exploded stream writes |corpus|·|chars| rows (~800 M / ~24 GB at
    # ×100) through the block store, which measured 3× SLOWER and wildly
    # run-variant (28–92 s) versus simply re-running the narrow explode
    # once per consumer (both passes are scan→project→partial-agg with no
    # wide exchange of trigram rows; the model aggregate collapses to the
    # ~50k-entry vocabulary before its only shuffle). Re-compute beats
    # re-read for a cheap narrow generator — the inverse of the tfidf
    # index case, where the checkpointed frame feeds four consumers and
    # carries a join each.
    counts = tri.groupBy("tri").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "tri",
        F.log(F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "logp"
        ),
    )
    return (
        tri.join(F.broadcast(model), "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 6).alias("pplx"),
        )
        # no output sort: per-doc feature table (event_gaps contract)
    )


LM_PERPLEXITY_ORACLE = """
WITH tri AS (
    SELECT doc_id, substr(text, i, 3) AS tri
    FROM documents, LATERAL (
        SELECT unnest(range(1, length(text) - 1)) AS i
    )
    WHERE length(text) >= 3
),
counts AS (SELECT tri, COUNT(*) AS n FROM tri GROUP BY tri),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
model AS (
    SELECT tri, LN(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
    FROM counts CROSS JOIN total
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(m.logp), 6) AS avg_logp,
       ROUND(EXP(-AVG(m.logp)), 6) AS pplx
FROM tri t JOIN model m ON t.tri = m.tri
GROUP BY t.doc_id
ORDER BY doc_id
"""


# -- SimHash -----------------------------------------------------------------

def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per doc, portable-SQL spelling (bit votes from the
    first 4 hex chars of md5(token)); output bucket histogram. The 64-bit
    Arrow-vectorized version below is the scale path."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    h = F.md5("tok")
    bit_cols = []
    for i in range(16):
        nib = i // 4
        bit = i % 4
        digit = F.instr(
            F.lit("0123456789abcdef"), F.substring(h, nib + 1, 1)
        ) - F.lit(1)
        bit_val = (digit.cast("bigint") / F.lit(2 ** bit)).cast("bigint") % F.lit(2)
        bit_cols.append(
            F.sum(F.when(bit_val == 1, 1).otherwise(-1)).alias(f"v{i}")
        )
    votes = toks.groupBy("doc_id").agg(*bit_cols)
    sim = None
    for i in range(16):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return (
        votes.select("doc_id", sim.cast("bigint").alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("simhash")
    )


def simhash16_oracle() -> str:
    vote_exprs = []
    for i in range(16):
        nib = i // 4
        bit = i % 4
        digit = f"(instr('0123456789abcdef', substr(md5(tok), {nib + 1}, 1)) - 1)"
        bit_val = f"((CAST({digit} AS BIGINT) // {2 ** bit}) % 2)"
        vote_exprs.append(
            f"SUM(CASE WHEN {bit_val} = 1 THEN 1 ELSE -1 END) AS v{i}"
        )
    sim = " + ".join(f"CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(16))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
votes AS (
    SELECT doc_id, {', '.join(vote_exprs)} FROM toks GROUP BY doc_id
)
SELECT CAST({sim} AS BIGINT) AS simhash, COUNT(*) AS n_docs
FROM votes GROUP BY 1 ORDER BY simhash
"""


def simhash64_py(text: str) -> int:
    """Pure-Python single-doc reference of the 64-bit SimHash (md5 first
    8 bytes big-endian, bit i = (d >> i) & 1, sign bit cleared). The
    vectorized UDF below must match this exactly — pinned in tests."""
    votes = [0] * 64
    for tok in text.split(" "):
        d = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for i in range(64):
            votes[i] += 1 if (d >> i) & 1 else -1
    v = 0
    for i in range(64):
        if votes[i] > 0:
            v |= 1 << i
    return v & 0x7FFFFFFFFFFFFFFF


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash via an Arrow-batched pandas UDF — one pass, no
    explode, no shuffle at all (per-doc output).

    The vote loop is numpy, not Python (the round-2 verdict's #2 weak
    spot): per batch, each UNIQUE token is md5-hashed once (cache —
    natural-language batches repeat tokens heavily), then the per-doc
    hashes become an (n_tok × 64) bit matrix whose column sums are the
    votes — 64 bit-ops per token collapse to three vectorized numpy
    expressions. Matches ``simhash64_py`` bit-for-bit."""

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        cache: dict[str, int] = {}

        def h64(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                cache[tok] = v
            return v

        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        mask = np.int64(0x7FFFFFFFFFFFFFFF)
        out = np.empty(len(texts), dtype=np.int64)
        for n, t in enumerate(texts):
            toks = t.split(" ")
            hs = np.fromiter(
                (h64(tok) for tok in toks), dtype=np.uint64, count=len(toks)
            )
            # votes_i = 2·(#set bits at i) − n_tok  (each token votes ±1)
            ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(
                axis=0, dtype=np.int64
            )
            votes = 2 * ones - len(toks)
            v = weights[votes > 0].sum(dtype=np.uint64)
            out[n] = np.int64(v & np.uint64(mask))
        return pd.Series(out, dtype="int64")

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", _simhash(F.col("text")).alias("simhash"))


def simhash64_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash entirely in JVM codegen — the ``simhash16``
    explode→md5→vote aggregation widened to the full 16 hex nibbles, and
    (unlike the Arrow path) oracle-checkable: DuckDB replays the identical
    nibble extraction. Per doc: one explode, 64 conditional-sum vote
    columns in ONE aggregation (map-side combined), then the bit
    reassembly — no Python anywhere.

    Bit order follows the hex string (bit i = nibble i//4, weight 2^(i%4))
    — a different but equally valid bit labeling than the Arrow path's
    byte-endian order; the two are separate registered queries."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # no output sort: per-doc fingerprint table (event_gaps contract)
    return _simhash64_jvm_frame(docs)


def _simhash64_jvm_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) via the JVM nibble-vote pipeline — shared by
    ``simhash64_jvm`` and the Hamming-pair blocking audit."""
    # string work happens ONCE per token (md5 + four 8-hex-char conv()
    # words); the 64 vote expressions are then integer div/mod on those
    # word attributes. The first spelling did 64 substring+instr string
    # ops per token inside the aggregate — 64 string scans vs 4.
    h = F.md5("tok")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select(
        "doc_id",
        *[
            F.conv(F.substring(h, 8 * k + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"w{k}")
            for k in range(4)
        ],
    )
    bit_cols = []
    for i in range(64):
        nib = i // 4  # hex-char index in the full digest, 0-based
        bit = i % 4
        word = nib // 8
        # within its 8-char word (big-endian hex), char nib%8 carries
        # weight 16^(7 - nib%8); bit `bit` of that digit sits at
        # integer bit 4*(7 - nib%8) + bit
        shift = 4 * (7 - (nib % 8)) + bit
        bit_val = F.expr(f"(w{word} div {1 << shift}) % 2")
        bit_cols.append(
            F.sum(F.when(bit_val == 1, 1).otherwise(-1)).alias(f"v{i}")
        )
    votes = toks.groupBy("doc_id").agg(*bit_cols)
    sim = None
    for i in range(63):  # bit 63 dropped: keep the sign bit clear (int64)
        term = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def simhash64_oracle() -> str:
    """DuckDB replay of the ARROW path's bit labeling: the kernel parses
    ``int.from_bytes(md5[:8], 'big')``, so bit i of the value lives in
    hex nibble ``15 - i//4`` (big-endian first 16 hex chars) at weight
    ``2^(i%4)``; reassembly keeps bits 0..62 (the kernel masks the sign
    bit). Same vote machinery as ``simhash64_jvm_oracle`` with the
    nibble index remapped — which is exactly the difference between the
    two registered queries."""
    vote_exprs = []
    for i in range(64):
        nib = 15 - (i // 4)  # big-endian byte order of md5[:8]
        bit = i % 4
        digit = f"(instr('0123456789abcdef', substr(md5(tok), {nib + 1}, 1)) - 1)"
        bit_val = f"((CAST({digit} AS BIGINT) // {2 ** bit}) % 2)"
        vote_exprs.append(
            f"SUM(CASE WHEN {bit_val} = 1 THEN 1 ELSE -1 END) AS v{i}"
        )
    sim = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        for i in range(63)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
votes AS (
    SELECT doc_id, {', '.join(vote_exprs)} FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id
"""


def simhash64_jvm_oracle() -> str:
    vote_exprs = []
    for i in range(64):
        nib = i // 4
        bit = i % 4
        digit = f"(instr('0123456789abcdef', substr(md5(tok), {nib + 1}, 1)) - 1)"
        bit_val = f"((CAST({digit} AS BIGINT) // {2 ** bit}) % 2)"
        vote_exprs.append(
            f"SUM(CASE WHEN {bit_val} = 1 THEN 1 ELSE -1 END) AS v{i}"
        )
    sim = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        for i in range(63)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
votes AS (
    SELECT doc_id, {', '.join(vote_exprs)} FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id
"""


# -- BPE-ish regex token counting ---------------------------------------------

# GPT-2-style pre-tokenization shape, restricted to a regex dialect that Java
# (Spark) and RE2-ish (DuckDB) evaluate identically: letter runs, digit runs,
# and single non-alphanumeric non-space marks each count as one token.
BPEISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens vs BPE-ish regex
    tokens plus the distinct-token count — the unit every data-mixture /
    token-budget computation is denominated in. All three counts are JVM
    regex builtins (whole-stage codegen); nothing leaves the executor until
    the tiny per-doc result. No output sort: a per-doc feature table
    consumers join on doc_id (the event_gaps contract; the ×100 sweep
    measured the global range-sort as a needless exchange over the full
    output), and the correctness compare is order-insensitive."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.expr(f"regexp_extract_all(text, '{BPEISH_RE}', 0)")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(bpe).alias("bpeish_tokens"),
        F.size(F.array_distinct(bpe)).alias("distinct_bpeish"),
    )


TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{BPEISH_RE}')) AS bpeish_tokens,
       len(list_distinct(regexp_extract_all(text, '{BPEISH_RE}'))) AS distinct_bpeish
FROM documents
ORDER BY doc_id
"""


# -- corpus vocabulary / tf-idf ----------------------------------------------

TOP_WORDS = 50
TFIDF_TOP_TERMS = 3


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-50 whitespace tokens by total count,
    with document frequency — the explode/lateral-view member of the text
    family (and the vocabulary pass any tokenizer-training job starts with).

    Scale: explode is narrow (no shuffle); the aggregate is map-side
    combined on the token, so the single shuffle carries one row per
    (partition, distinct token), not one per token occurrence. The final
    top-50 is a tiny sort after the aggregate. Zipfian token skew is
    absorbed by the partial aggregation — the hot token's billions of
    occurrences reduce to |partitions| partial rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("word").asc())
        .limit(TOP_WORDS)
    )


WORD_COUNTS_ORACLE = f"""
SELECT word, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY occurrences DESC, word ASC
LIMIT {TOP_WORDS}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the explode → two aggregations
    (term-per-doc, doc-frequency) → join → window composition, entirely
    relational. tf = count/doc_len, idf = ln(N/df); the rank is over the
    ROUNDED score with a term tie-break so both engines rank identically.

    Scale: ONE explode pass. Everything else derives from the (doc, term)
    aggregate — doc length is a windowed SUM over it (not a third scan),
    doc frequency is a plain count over its rows (they are distinct
    (doc, term) pairs by construction) — so the plan is 1 scan +
    3 exchanges, and the doc-length window leaves the frame partitioned
    by doc_id, exactly what the final rank window needs: Catalyst chains
    the two window operators with NO exchange between them. The df side
    is |vocabulary| rows, which AQE broadcasts while it fits; the
    doc-count N is a scalar aggregate both engines fold cheaply.
    (No ``spread`` here — measured: the split+explode is cheap enough that
    the raw-row exchange costs more than the parallelism buys; the first
    groupBy redistributes anyway.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds BOTH the per-doc window and the df aggregate — each branch
    # re-derives it (exchange reuse does not fire across the diverging
    # re-aggregations), but both derivations are map-side-combined scans;
    # measured locally, a .cache() here costs more than the second scan
    # saves. At 100 TB, persist tf to parquet first (materialize-the-
    # index) rather than relying on executor cache.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    wd = Window.partitionBy("doc_id")
    scored = (
        tf.withColumn("dl", F.sum("c").over(wd))
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("c") / F.col("dl"))
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tfidf", "rnk")
    )


TFIDF_TOP_TERMS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
toks_f AS (SELECT * FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM toks_f GROUP BY doc_id, term),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks_f GROUP BY doc_id),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks_f GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term,
           ROUND((tf.c * 1.0 / doclen.dl) * ln(n.n * 1.0 / df.df), 6) AS tfidf
    FROM tf
    JOIN doclen ON tf.doc_id = doclen.doc_id
    JOIN df ON tf.term = df.term
    CROSS JOIN n
)
SELECT doc_id, term, tfidf, rnk FROM (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
           ) AS INT) AS rnk
    FROM scored
)
WHERE rnk <= {TFIDF_TOP_TERMS}
"""


# -- feature-hashed TF vectors ------------------------------------------------

HASH_VEC_DIM = 64


def _hash_bucket(term_col: str = "term", dim: int = HASH_VEC_DIM) -> F.Column:
    """md5-char feature-hash bucket — THE engine's portable hashing-trick
    dim, shared by `hashed_tf_vectors` and `dsir_weights` (one definition,
    or the two operators' feature spaces silently diverge). ascii-of-hex
    arithmetic, chosen over xxhash64 because DuckDB evaluates it
    identically (`_hash_bucket_sql` is the verbatim SQL twin)."""
    h = F.md5(term_col)
    return (
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1))
    ) % dim


def _hash_bucket_sql(term_expr: str = "term", dim: int = HASH_VEC_DIM) -> str:
    return (
        f"(ascii(substr(md5({term_expr}), 1, 1)) * 31"
        f" + ascii(substr(md5({term_expr}), 2, 1))) % {dim}"
    )


def hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed term-frequency vectors (the hashing trick, Weinberger
    et al. '09): every document becomes a ``HASH_VEC_DIM``-dim sparse vector
    with dim = hash(term) and a ±1 hash sign (signed sums keep collisions
    unbiased). This closes the text→vector loop inside the engine: the
    output is exactly the shape the ANN / LSH-dedup / k-means family
    consumes, with no external embedding model in the path.

    Output is LONG FORM (doc_id, dim, weight) — the sparse representation a
    100 TB corpus job would persist (dense arrays at write time are mostly
    zeros), and what makes the query engine-exact: both engines compute the
    same md5-derived dims and integer signed sums, no float in sight.

    Plan shape: one narrow explode, one map-side-combined aggregate keyed
    (doc_id, dim) — tokens collapse to ≤ dim rows per doc before the
    exchange. The hash is md5-char arithmetic (ascii of hex chars), chosen
    over xxhash64 because BOTH engines evaluate it identically."""
    docs = load_table(spark, sf_dir, "documents")
    terms = (
        spread(docs)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    dim = _hash_bucket()
    sign = F.when(
        F.ascii(F.substring(F.md5("term"), 3, 1)) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        terms.select("doc_id", dim.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "dim")
    )


HASHED_TF_VECTORS_ORACLE = f"""
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
h AS (
    SELECT doc_id,
           {_hash_bucket_sql()} AS dim,
           CASE WHEN ascii(substr(md5(term), 3, 1)) % 2 = 0
                THEN 1 ELSE -1 END AS s
    FROM terms WHERE term <> ''
)
SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS weight
FROM h GROUP BY doc_id, dim
HAVING SUM(s) <> 0
ORDER BY doc_id, dim
"""


# -- DSIR importance weights --------------------------------------------------

DSIR_TARGET_LANG = "en"


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), the distribution-matching member of the curation
    family: score every document by how much more likely its hashed
    features are under a TARGET corpus' unigram feature model than under
    the raw corpus' — the weights a pretraining pipeline resamples with
    to steer a web crawl toward a curated distribution. Target here =
    the ``lang = 'en'`` slice (any predicate works); features are the
    same md5-bucket hashing trick `hashed_tf_vectors` uses (the paper
    hashes uni+bi-grams — identical plumbing, one more explode).

    Both bucket models are Laplace-smoothed over the FIXED
    ``HASH_VEC_DIM`` feature space — model frames are D rows, broadcast
    at any corpus size; the per-doc score is one map-side-combined
    (doc, bucket) count + one broadcast join + one per-doc aggregation
    (exactly the `lm_perplexity_scores` shape). Per-token
    ``avg_log_ratio`` rides along: the paper's raw sum favors long
    documents, and the packing/chunking family downstream cares about
    per-token quality. The resampling DRAW itself (Gumbel top-k) is
    deliberately out of scope: it is the one nondeterministic step, and
    `stratified_sample`'s seeded-hash machinery already covers
    reproducible sampling."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    feats = terms.select(
        "doc_id", "lang", _hash_bucket().alias("bucket")
    )
    # feeds the doc counts AND both corpus models; materialize the narrow
    # (doc, lang, bucket) stream once (the materialize-the-index step)
    feats = feats.localCheckpoint()
    doc_b = feats.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    raw = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        feats.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = feats.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("n_tgt"),
    )
    d = F.lit(HASH_VEC_DIM)
    lr = F.log(
        (F.coalesce("c_tgt", F.lit(0)) + 1)
        / (F.col("n_tgt") + d).cast("double")
    ) - F.log((F.col("c_raw") + 1) / (F.col("n_raw") + d).cast("double"))
    model = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select("bucket", lr.alias("lr"))
    )
    avg_lr = F.round(
        F.sum(F.col("c") * F.col("lr")) / F.sum("c"), 6
    )
    return (
        doc_b.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_terms"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias(
                "sum_log_ratio"
            ),
            avg_lr.alias("avg_log_ratio"),
            (avg_lr > 0).alias("selected"),
        )
        # no output sort: per-doc weight table (event_gaps contract)
    )


DSIR_WEIGHTS_ORACLE = f"""
WITH terms AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
    FROM documents
),
feats AS (
    SELECT doc_id, lang,
           {_hash_bucket_sql()} AS bucket
    FROM terms WHERE term <> ''
),
doc_b AS (
    SELECT doc_id, bucket, COUNT(*) AS c FROM feats GROUP BY 1, 2
),
raw AS (SELECT bucket, COUNT(*) AS c_raw FROM feats GROUP BY 1),
tgt AS (
    SELECT bucket, COUNT(*) AS c_tgt FROM feats
    WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
),
tot AS (
    SELECT COUNT(*) AS n_raw,
           SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS n_tgt
    FROM feats
),
model AS (
    SELECT r.bucket,
           LN((COALESCE(t.c_tgt, 0) + 1)
              / CAST(tot.n_tgt + {HASH_VEC_DIM} AS DOUBLE))
         - LN((r.c_raw + 1)
              / CAST(tot.n_raw + {HASH_VEC_DIM} AS DOUBLE)) AS lr
    FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket CROSS JOIN tot
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_terms,
       ROUND(SUM(d.c * m.lr), 6) AS sum_log_ratio,
       ROUND(SUM(d.c * m.lr) / SUM(d.c), 6) AS avg_log_ratio,
       ROUND(SUM(d.c * m.lr) / SUM(d.c), 6) > 0 AS selected
FROM doc_b d JOIN model m ON d.bucket = m.bucket
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# -- BM25 full-text retrieval -------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["hash", "scan", "window"]  # demo query terms (corpus vocab)
BM25_TOP = 10


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones Okapi weighting) for a
    fixed term query — the query-serving complement to ``tfidf_top_terms``
    (which profiles the corpus; this one answers a search). Score per doc:
    Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with the
    +1-smoothed idf = ln(1 + (N−df+0.5)/(df+0.5)).

    Plan shape: the term filter lands directly on the explode, so only
    query-term occurrences ever reach an exchange — at 100 TB the scored
    row count is |docs containing a query term| × |query terms|, not the
    token stream. Corpus stats (N, avgdl) are a 1-row aggregate cross-joined
    in (broadcast by construction); df comes from the already-filtered tf
    frame — no second corpus scan. The final top-10 sorts the rounded score
    with doc_id tie-breaks so ranking is engine-exact.

    At serving scale the tf/df frames are the materialized inverted index:
    precompute them once, and this query becomes two broadcast joins over
    posting lists."""
    # drop NULL text up front so BOTH engines see the same corpus by
    # construction: a NULL row would make Spark's size() yield -1
    # (poisoning avgdl) while DuckDB's unnest silently drops it
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.split(F.col("text"), " ")
    base = spread(docs).select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    # corpus stats never need the token EXPLODE — per-doc lengths are
    # row-local, so N/avgdl is one narrow aggregate over |docs| rows
    # (sum/count in exact integers, identical to the oracle's
    # count-over-unnest arithmetic)
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        base.filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    return (
        _bm25_scored(tf, stats)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP)
    )


def _bm25_scored(tf: DataFrame, stats: DataFrame) -> DataFrame:
    """(doc_id, n_terms, bm25) from a (doc_id, term, tf, dl) frame and the
    1-row (n_docs, avgdl) stats — THE Okapi scoring definition. Shared by
    ``bm25_search`` and both stages of ``prf_query_expansion`` (one
    definition, or a k1/b/idf tweak silently diverges the stages — the
    ``_pair_jaccard`` discipline). Document frequency derives from the
    already-filtered tf frame, never a second corpus scan."""
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf").cast("double") * (BM25_K1 + 1.0) / (
        F.col("tf")
        + BM25_K1
        * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(idf * norm), 6).alias("bm25"),
        )
    )


def _bm25_sql_expr(dfa: str) -> str:
    """Oracle twin of ``_bm25_scored``'s per-(doc,term) summand, with the
    document-frequency CTE alias parameterized."""
    return (
        f"ln(1.0 + (s.n_docs - {dfa}.df + 0.5) / ({dfa}.df + 0.5))"
        f" * CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0)"
        f" / (tf.tf + {BM25_K1}"
        f" * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))"
    )


def bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH base AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
),
stats AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
    FROM base
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
    FROM base WHERE term IN ({terms})
    GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(SUM({_bm25_sql_expr('df')}), 6) AS bm25
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s
    GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, bm25 FROM scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP}
"""


# -- end-to-end curation pipeline ---------------------------------------------

CURATION_MIN_QUALITY = 0.6


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data curation composition, end to end in ONE plan:
    exact-dedup keep-first → quality threshold → per-language survivor
    stats (doc count, total whitespace tokens, mean quality). This is the
    query shape a 100 TB corpus actually runs nightly; every stage is a
    stage of the same Catalyst plan, so scan/pushdown/shuffle costs are
    shared rather than re-paid per step."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    mean_wlen = F.length("text").cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    )
    len_score = F.when((n_tok >= 20) & (n_tok <= 80), 1.0).otherwise(0.5)
    quality = F.round(
        len_score * 0.5 + stop_ratio * 2.0 + (mean_wlen / 10.0) * 0.25, 6
    )
    w = Window.partitionBy("fp")
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("fp"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        quality.alias("quality"),
    )
    kept = (
        scored.withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("quality") >= CURATION_MIN_QUALITY)
        )
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 5).alias("mean_quality"),
        )
        .orderBy("lang")
    )


CURATED_CORPUS_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(
             (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 80
                   THEN 1.0 ELSE 0.5 END) * 0.5
             + (CAST(len(list_filter(string_split(text,' '), t -> t IN ({_STOP_IN})))
                     AS DOUBLE) / CAST(len(string_split(text,' ')) AS DOUBLE)) * 2.0
             + ((CAST(length(text) AS DOUBLE)
                 / CAST(len(string_split(text,' ')) AS DOUBLE)) / 10.0) * 0.25
           , 6) AS quality
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(quality), 5) AS mean_quality
FROM scored
WHERE doc_id = canonical_id AND quality >= {CURATION_MIN_QUALITY}
GROUP BY lang
ORDER BY lang
"""


# -- bigram vocabulary --------------------------------------------------------

def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word bigrams with document frequency — the n-gram
    extension of ``word_counts`` (the statistic a BPE/tokenizer-merge pass
    or a phrase-mining job computes first).

    The pair list is built row-locally with array higher-order functions
    (sequence → transform → element_at: all JVM, no Python, no shuffle);
    doc_freq comes from a two-level aggregate — (doc, bigram) partial
    counts, then per-bigram sum + row count — instead of COUNT(DISTINCT),
    whose expand operator doubles the exploded row volume. Both shuffles
    are map-side combined, so Zipfian pair skew collapses to |partitions|
    rows per hot pair. ``spread`` splits the under-partitioned small-file
    input before the CPU-heavy explode (a real cluster's scans arrive
    pre-split; see sources.io). The size-≥2 guard matters: Spark's
    ``sequence(1, 0)`` would DESCEND, fabricating a reversed range."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # adjacent pairs via slice+zip_with, NOT transform+element_at: an
    # element_at inside a lambda re-evaluates its array argument per
    # ELEMENT (CollapseProject re-inlines any projection, so `words`
    # becomes a fresh split(text) per lookup — O(words²) per doc, measured
    # ~8 s at sf0.1). slice evaluates the array once per ROW; zip_with
    # walks the two offset copies in lockstep (~1 s).
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("bigram")
        .agg(
            F.sum("c").alias("occurrences"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("bigram").asc())
        .limit(50)
    )


BIGRAM_COUNTS_ORACLE = """
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS words
    FROM documents
)
SELECT bigram, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])) AS bigram
    FROM w
    WHERE len(words) >= 2
)
GROUP BY bigram
ORDER BY occurrences DESC, bigram ASC
LIMIT 50
"""


# -- PII pattern scan ---------------------------------------------------------

# portable across Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded repetition, \b word boundaries — no lookarounds, no backrefs
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure audit: documents and total occurrences of
    email-like and phone-like patterns — the release gate every training-
    data pipeline runs before publishing a corpus (the synthetic corpus is
    clean, so counts are zero here; the planted-fixture test proves the
    patterns bind).

    regexp_count is a JVM builtin evaluated in the scan projection — one
    pass, no shuffle beyond the per-source (dimension-sized) aggregate.
    At 100 TB this is the cheapest possible shape: narrow scan of one
    string column, map-side-combined counts."""
    docs = load_table(spark, sf_dir, "documents")
    n_email = F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
    n_phone = F.regexp_count(F.col("text"), F.lit(PHONE_RE))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(n_email > 0, 1).otherwise(0)).alias("docs_with_email"),
            F.sum(n_email).alias("total_emails"),
            F.sum(F.when(n_phone > 0, 1).otherwise(0)).alias("docs_with_phone"),
            F.sum(n_phone).alias("total_phones"),
        )
        .orderBy("source")
    )


PII_SCAN_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN len(regexp_extract_all(text, '{EMAIL_RE}')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(SUM(len(regexp_extract_all(text, '{EMAIL_RE}'))) AS BIGINT) AS total_emails,
       CAST(SUM(CASE WHEN len(regexp_extract_all(text, '{PHONE_RE}')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(SUM(len(regexp_extract_all(text, '{PHONE_RE}'))) AS BIGINT) AS total_phones
FROM documents
GROUP BY source
ORDER BY source
"""


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redacted-corpus projection: emails/phones replaced with typed
    placeholder tokens, verified portably via md5 of the redacted text
    (both engines hash the identical UTF-8 bytes). Same scan-projection
    scale shape as pii_scan; the output keeps doc_id + digest so the
    oracle compares content without shipping full texts."""
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        (F.length("text") - F.length(redacted)).alias("chars_removed"),
    )


PII_REDACT_ORACLE = f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5,
       length(text) - length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                            '{PHONE_RE}', '<PHONE>', 'g')) AS chars_removed
FROM documents
"""


# -- repetition / boilerplate scoring -----------------------------------------

REP_TOP_BIGRAM_FLAG = 0.20  # Gopher-style: >20% of bigrams identical → flag


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals — the Gopher/C4-family quality rule
    that catches boilerplate and degenerate generations: duplicate-word
    fraction and the share of the document's bigrams taken by its single
    most repeated bigram.

    One scan; the bigram multiset is built row-locally (slice+zip_with —
    the evaluate-once spelling, see ``bigram_counts``) and then counted
    through a (doc, bigram) partial agg + per-doc reduce rather than a
    row-local O(k²) mode search: linear work, two map-side-combined
    shuffles on high-cardinality keys, no skew at 100 TB (a hot bigram is
    spread across docs; the per-doc key is unique). Word stats ride along
    as first() through the aggs — no second scan, no join."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    n_sh = F.size(words) - 1
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, n_sh),
            F.slice(words, 2, n_sh),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(words)).cast("double")
            / F.size(words).cast("double"),
            6,
        ).alias("dup_word_ratio"),
        F.explode(bigrams).alias("bigram"),
    )
    return (
        per_doc.groupBy("doc_id", "bigram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n_words").alias("n_words"),
            F.first("dup_word_ratio").alias("dup_word_ratio"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_words").cast("bigint").alias("n_words"),
            F.first("dup_word_ratio").alias("dup_word_ratio"),
            F.round(
                F.max("c").cast("double") / F.sum("c").cast("double"), 6
            ).alias("top_bigram_ratio"),
            (
                F.max("c").cast("double") / F.sum("c").cast("double")
                > F.lit(REP_TOP_BIGRAM_FLAG)
            ).alias("repetitive"),
        )
        # no output sort: per-doc feature table (event_gaps contract)
    )


REPETITION_SCORES_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS words
    FROM documents
),
bg AS (
    SELECT doc_id,
           len(words) AS n_words,
           ROUND(1.0 - CAST(len(list_distinct(words)) AS DOUBLE)
                     / CAST(len(words) AS DOUBLE), 6) AS dup_word_ratio,
           unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])) AS bigram
    FROM w WHERE len(words) >= 2
),
cnt AS (
    SELECT doc_id, bigram, COUNT(*) AS c,
           MIN(n_words) AS n_words, MIN(dup_word_ratio) AS dup_word_ratio
    FROM bg GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(MIN(n_words) AS BIGINT) AS n_words,
       MIN(dup_word_ratio) AS dup_word_ratio,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_bigram_ratio,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > {REP_TOP_BIGRAM_FLAG}
           AS repetitive
FROM cnt GROUP BY doc_id ORDER BY doc_id
"""


# -- sequence packing ---------------------------------------------------------

PACK_BUDGET = 512  # whitespace tokens per training row
PACK_BUCKETS = 8  # parallel packing streams


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into fixed token-budget
    training rows — the step between a curated corpus and a pretraining
    dataloader. Each doc lands in a deterministic hash bucket; within a
    bucket, docs pack in doc_id order and a doc starts a new bin whenever
    the running total would cross the budget boundary (bin index =
    pre-doc cumulative sum DIV budget — docs may straddle, which models
    cross-document attention-masked packing).

    Scale: the ONLY window runs per bucket — parallelism is
    ``PACK_BUCKETS`` (raise it with the cluster; each bucket's window is
    an independent sort) — never a global single-partition running sum.
    Output is the per-bin fill report a packing job emits for padding
    accounting."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    with_bucket = docs.select(
        "doc_id",
        toks.alias("n_tokens"),
        (F.expr(phash_frag("doc_id", seed=97)) % PACK_BUCKETS).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer division, NOT float-divide-then-cast: DuckDB's CAST(double →
    # BIGINT) rounds half-even while Spark's truncates, so the two engines
    # disagree on bin boundaries; DIV / `//` is the same floor on both
    binned = with_bucket.withColumn(
        "pre", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("bin", F.expr(f"CAST(pre DIV {PACK_BUDGET} AS BIGINT)"))
    return (
        binned.groupBy("bucket", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_packed"),
        )
        .orderBy("bucket", "bin")
    )


PACK_SEQUENCES_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ({phash_frag('doc_id', seed=97)}) % {PACK_BUCKETS} AS bucket
    FROM documents
),
binned AS (
    SELECT bucket, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {PACK_BUDGET} AS BIGINT) AS bin
    FROM t
)
SELECT bucket, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed
FROM binned GROUP BY bucket, bin ORDER BY bucket, bin
"""


# -- benchmark-contamination screen -------------------------------------------

EVAL_HOLDOUT_MOD = 20  # ~5% of docs stand in for the benchmark set


def contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination audit: which training documents share
    any word-3-gram with the held-out 'benchmark' slice (a deterministic
    ~5% hash slice here; in production, the actual eval suites). The
    standard pre-release screen for a pretraining corpus.

    The shingle build is the shared ``_shingles`` row-local pass carrying
    (is_eval, lang) through, so the CORPUS IS SCANNED TWICE TOTAL (once for
    the shingle index, once for the slim per-lang rollup) — the first
    spelling re-derived `flagged` per branch and cost 5 parquet scans. The
    shingle index is localCheckpoint-ed before fanning into both join
    sides: at production scale that materialization is a real table (the
    index every contamination/dedup job keeps on disk), and here it stops
    Spark re-computing the explode per consumer. The benchmark side
    collapses to DISTINCT shingles BEFORE the join, so the probe is keyed
    by shingle with benchmark-side cardinality — small by construction
    (5% of docs) and broadcastable at any scale where the benchmark is a
    fixed suite. One semi-join + one per-lang rollup."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.expr(phash_frag("doc_id", seed=41)) % EVAL_HOLDOUT_MOD == 0).alias(
        "is_eval"
    )
    sh = _shingles(
        docs.select("doc_id", "text"), extra_cols=[is_eval]
    ).localCheckpoint(eager=False)
    eval_sh = sh.filter("is_eval").select("shingle").distinct()
    # NO broadcast hint on the benchmark side: a PRODUCTION benchmark suite
    # is fixed-size and AQE will broadcast it on its own measured size; but
    # this demo's eval side is a ~5% hash SLICE of the corpus, whose
    # distinct-shingle count grows with the corpus — a forced broadcast
    # would OOM the driver exactly at the 100 TB scale the screen targets.
    # Letting AQE decide gives broadcast when it fits, shuffle-join when it
    # doesn't, from runtime statistics rather than a hint we can't verify.
    contaminated = (
        sh.filter(~F.col("is_eval"))
        .join(eval_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = docs.select("doc_id", "lang", is_eval).filter(~F.col("is_eval"))
    return (
        train.join(
            contaminated.withColumn("hit", F.lit(1)), "doc_id", "left"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
                "n_contaminated"
            ),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("lang")
    )


CONTAMINATION_SCREEN_ORACLE = f"""
WITH flagged AS (
    SELECT doc_id, text, lang,
           ({phash_frag('doc_id', seed=41)}) % {EVAL_HOLDOUT_MOD} = 0 AS is_eval
    FROM documents
),
w AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM flagged
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words) - 1),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                   AS shingle
        FROM w WHERE len(words) >= 3
    )
),
eval_sh AS (
    SELECT DISTINCT shingle FROM sh JOIN flagged USING (doc_id) WHERE is_eval
),
contaminated AS (
    SELECT DISTINCT sh.doc_id
    FROM sh
    JOIN flagged USING (doc_id)
    WHERE NOT is_eval AND shingle IN (SELECT shingle FROM eval_sh)
)
SELECT lang,
       COUNT(*) AS n_train,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       ROUND(CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS contamination_rate
FROM flagged f
LEFT JOIN contaminated c ON f.doc_id = c.doc_id
WHERE NOT f.is_eval
GROUP BY lang ORDER BY lang
"""


# -- incremental dedup (new batch vs existing corpus) -------------------------

INCR_BATCH_MOD = 5  # ~20% of docs play the 'incoming batch'


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: an incoming batch (deterministic ~20% hash
    slice) checked against the existing corpus by content fingerprint —
    the production shape where yesterday's corpus is a materialized
    fingerprint table and only the delta is hashed and anti-joined.

    Two passes over the scan (corpus side reduced to DISTINCT md5 before
    the join — the fingerprint table a real pipeline would keep on disk,
    bucketable by digest for a shuffle-free probe); the anti-join is keyed
    by digest, uniform by construction. Also collapses WITHIN-batch dups
    (min-doc_id wins) — both dup classes reported per lang."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(phash_frag("doc_id", seed=59)) % INCR_BATCH_MOD == 0
    fp = docs.select(
        "doc_id", "lang", F.md5("text").alias("fp"), is_new.alias("is_new")
    )
    corpus_fps = fp.filter(~F.col("is_new")).select("fp").distinct()
    incoming = fp.filter("is_new")
    survivors = (
        incoming.join(corpus_fps, "fp", "left_anti")
        .groupBy("lang", "fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        incoming.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_incoming"))
        .join(
            survivors.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_kept")
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_incoming",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (
                F.col("n_incoming")
                - F.coalesce("n_kept", F.lit(0)).cast("bigint")
            ).alias("n_dropped"),
        )
        .orderBy("lang")
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH fp AS (
    SELECT doc_id, lang, md5(text) AS fp,
           ({phash_frag('doc_id', seed=59)}) % {INCR_BATCH_MOD} = 0 AS is_new
    FROM documents
),
corpus AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new),
incoming AS (SELECT * FROM fp WHERE is_new),
survivors AS (
    SELECT lang, fp, MIN(doc_id) AS doc_id
    FROM incoming
    WHERE fp NOT IN (SELECT fp FROM corpus)
    GROUP BY lang, fp
)
SELECT i.lang,
       COUNT(*) AS n_incoming,
       CAST(COALESCE(MIN(s.n_kept), 0) AS BIGINT) AS n_kept,
       COUNT(*) - CAST(COALESCE(MIN(s.n_kept), 0) AS BIGINT) AS n_dropped
FROM incoming i
LEFT JOIN (SELECT lang, COUNT(*) AS n_kept FROM survivors GROUP BY lang) s
    ON i.lang = s.lang
GROUP BY i.lang ORDER BY i.lang
"""


# -- document chunking --------------------------------------------------------

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    context-window chunking stage of an embedding/RAG or long-document
    training pipeline. Chunk starts step by ``CHUNK_STRIDE``; the last
    chunk always covers the document tail (standard 1 + ceil((n-size)/
    stride) start count), so every token appears in ≥1 chunk.

    Entirely row-local: start offsets come from one `sequence`, each chunk
    is a `slice` of the once-evaluated word array (the evaluate-once rule:
    slice per row, never element_at per element), the digest is md5 of the
    rejoined window. One generator projection, no shuffle AT ALL — the
    old global (doc_id, chunk_idx) output sort range-exchanged the entire
    chunk table for nothing (per-chunk feature rows are joined or grouped
    downstream, never read in order; the compare is order-insensitive) —
    so the plan scales with scan bandwidth like explode-family operators,
    with output ~(1 + n/stride)× input rows. Digest + bounds (not full
    text) leave the executor."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    n = F.size(words)
    n_starts = F.when(n <= CHUNK_SIZE, F.lit(1)).otherwise(
        F.expr(
            f"CAST(((size(filter(split(text, ' '), w -> w != '')) - {CHUNK_SIZE}"
            f" + {CHUNK_STRIDE} - 1) DIV {CHUNK_STRIDE}) + 1 AS INT)"
        )
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda k: F.struct(
            k.cast("bigint").alias("chunk_idx"),
            (k * CHUNK_STRIDE + 1).cast("bigint").alias("start_tok"),
        ),
    )
    docs = docs.select("doc_id", words.alias("w"), F.explode(chunks).alias("c"))
    piece = F.slice(
        F.col("w"), F.col("c.start_tok").cast("int"), F.lit(CHUNK_SIZE)
    )
    return docs.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


CHUNK_DOCUMENTS_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS words
    FROM documents
),
n AS (
    SELECT doc_id, words, len(words) AS n,
           CASE WHEN len(words) <= {CHUNK_SIZE} THEN 1
                ELSE ((len(words) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                      // {CHUNK_STRIDE}) + 1
           END AS n_starts
    FROM w
)
SELECT doc_id,
       k AS chunk_idx,
       k * {CHUNK_STRIDE} + 1 AS start_tok,
       CAST(len(list_slice(words, k * {CHUNK_STRIDE} + 1,
                           k * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(list_slice(words, k * {CHUNK_STRIDE} + 1,
                                      k * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
           AS chunk_md5
FROM n, LATERAL (SELECT unnest(range(0, n_starts)) AS k)
ORDER BY doc_id, chunk_idx
"""


# -- corpus mixture weights ---------------------------------------------------

MIXTURE_ALPHA = 0.7  # sampling temperature (multilingual-LM convention)


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing weights per language: sampling
    probability ∝ (token share)^α, the standard rebalance that keeps
    low-resource slices from vanishing at α<1. Emits natural share,
    α-weighted share, and the implied up/down-sampling factor — the table
    a data-mixture config is generated from.

    Scale: the fact collapses to |langs| rows in one map-side-combined
    agg; the normalizing window runs over that handful of rows (the group
    count is bounded by the label vocabulary, not the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    nat = F.col("n_tokens").cast("double") / F.sum(
        F.col("n_tokens").cast("double")
    ).over(w_all)
    powd = F.pow(F.col("n_tokens").cast("double"), F.lit(MIXTURE_ALPHA))
    wt = powd / F.sum(powd).over(w_all)
    return (
        per_lang.select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(nat, 6).alias("natural_share"),
            F.round(wt, 6).alias("mixture_weight"),
            F.round(wt / nat, 6).alias("sampling_factor"),
        )
        .orderBy("lang")
    )


CORPUS_MIXTURE_WEIGHTS_ORACLE = f"""
WITH per_lang AS (
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / SUM(CAST(n_tokens AS DOUBLE)) OVER (), 6)
           AS natural_share,
       ROUND(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})
             / SUM(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) OVER (), 6)
           AS mixture_weight,
       ROUND((POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})
              / SUM(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) OVER ())
             / (CAST(n_tokens AS DOUBLE) / SUM(CAST(n_tokens AS DOUBLE)) OVER ()), 6)
           AS sampling_factor
FROM per_lang ORDER BY lang
"""


# -- training-shard manifest (deterministic global shuffle for export) -------

# Every LLM training-data export ends with "globally shuffle the corpus and
# write it as N shards": downstream loaders stream shards sequentially, so
# the shuffle must happen HERE, once, deterministically. Seeded portable
# hash = the engine's seeded-shuffle primitive (functions/hashing.py), the
# same construction the reference's sklearn.utils.shuffle(random_state=...)
# splits map onto (Dataset_CDAE.py:79,103 — semantic determinism per
# SURVEY.md §7.4).
SHARD_SEED = 41
N_SHARDS = 16


def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard manifest for a training-data export: each doc
    gets a shard (portable hash mod ``N_SHARDS``), a position within its
    shard (rank by the same hash — the global shuffle), and a CHARACTER
    offset (running ``n_chars`` sum) — the index a sequential loader
    seeks with. Character, not byte: the offsets come from the n_chars
    column so the scan stays pruned to two skinny columns; a byte-exact
    manifest swaps in ``octet_length(text)`` (Spark) / ``strlen(text)``
    (DuckDB) at the cost of scanning the text column.

    Scale: ONE shuffle on ``shard`` (hash-balanced by construction; at
    100 TB raise ``N_SHARDS`` so shards fit the writer's task size). The
    rank/offset window sorts within each shard only — the physical plan a
    ``repartition(shard).sortWithinPartitions(h)`` writer produces; this
    manifest form is its oracle-checkable twin."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(phash_frag("doc_id", seed=SHARD_SEED))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "n_chars",
            h.alias("h"),
            (h % N_SHARDS).cast("int").alias("shard"),
        )
        .withColumn(
            "pos",
            F.row_number()
            .over(Window.partitionBy("shard").orderBy(F.col("h").asc(), F.col("doc_id").asc()))
            .cast("int"),
        )
        .withColumn(
            "char_start",
            (F.sum("n_chars").over(w) - F.col("n_chars")).cast("bigint"),
        )
        .select("shard", "pos", "doc_id", "n_chars", "char_start")
        .orderBy("shard", "pos")
    )


TRAINING_SHARDS_ORACLE = f"""
WITH s AS (
    SELECT doc_id, n_chars,
           {phash_frag('doc_id', seed=SHARD_SEED)} AS h,
           CAST({phash_frag('doc_id', seed=SHARD_SEED)} % {N_SHARDS} AS INT) AS shard
    FROM documents
)
SELECT shard,
       CAST(ROW_NUMBER() OVER wo AS INT) AS pos,
       doc_id, n_chars,
       CAST(SUM(n_chars) OVER w - n_chars AS BIGINT) AS char_start
FROM s
WINDOW wo AS (PARTITION BY shard ORDER BY h ASC, doc_id ASC),
       w AS (PARTITION BY shard ORDER BY h ASC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY shard, pos
"""


# -- winnowing fingerprints (Schleimer-Wilkerson-Aiken '03, the MOSS
#    algorithm) ---------------------------------------------------------------

# The guarantee MinHash doesn't give: ANY shared substring of length
# >= K + W - 1 is caught by at least one shared fingerprint (local
# selection), with density ~2/(W+1) of all k-gram hashes. The robust
# local-fingerprinting member of the dedup family — what plagiarism /
# near-copy detectors actually run.
WINNOW_K = 12  # char k-gram length
WINNOW_W = 8  # winnowing window (in k-grams)
WINNOW_SPACE = 1 << 24  # fingerprint space (31-mix over 8 md5 hex chars)
WINNOW_MAXDF = 16  # stop-fingerprint bound: drop fps seen in more docs
WINNOW_MIN_SHARED = 6  # report pairs sharing at least this many fps
# (measured at sf0.01: >= 2 admits ~3.8k phrase-overlap pairs, >= 6 keeps
# the ~28 genuine near-copy pairs the MinHash family also surfaces)


def _winnow_fp_sql(term_of_j) -> str:
    """k-gram fingerprint as a 31-mix over the K char codes, BIGINT the
    whole way (Spark 4 ANSI would overflow INT at 31^7) and REDUCED mod
    ``WINNOW_SPACE`` at every step: ascii() of a non-ASCII char is its
    full codepoint (up to ~1.1M), so an unreduced fold reaches
    codepoint·31^11 ≈ 5e20 > 2^63 and crashes both engines on CJK text
    — per-step reduction bounds every intermediate at 2^24·31 + 2^21.
    ``term_of_j(j)`` supplies each engine's spelling of "code of the
    j-th char of the gram" — one mixing definition, two index idioms
    (Spark arrays are 0-based, DuckDB strings 1-based). An earlier md5
    spelling cost ~6 s at bench scale: one digest + hex string per gram
    vs K fused integer ops here."""
    h = "CAST(0 AS BIGINT)"
    for j in range(WINNOW_K):
        h = f"(({h} * 31 + {term_of_j(j)}) % {WINNOW_SPACE})"
    return h


def winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document winnowing matches: fingerprint every document
    (k-gram rolling hashes → per-window minima → distinct), drop
    stop-fingerprints (df > ``WINNOW_MAXDF``), and report document pairs
    sharing ≥ ``WINNOW_MIN_SHARED`` fingerprints:
    (doc_a, doc_b, n_shared).

    Plan shape: fingerprinting is entirely ROW-LOCAL (two ``transform``
    passes + window minima over arrays — no per-gram explode reaches an
    exchange; only the ~2/(W+1)-dense selected fingerprints do). One
    fp-keyed aggregate computes document frequency; the stop-fp filter
    bounds every posting list to ``WINNOW_MAXDF`` docs, so the pair join
    is ≤ df²/2 rows per fingerprint — the same vocabulary-bounding move
    as ``duplicate_passages``. Text is fingerprinted RAW (no
    normalization): deterministic and oracle-identical; a production
    pass would fold case/whitespace first.

    Why this exists next to MinHash-LSH: banded MinHash bounds WHOLE-DOC
    Jaccard; winnowing guarantees detection of any shared RUN of length
    ≥ K+W−1 chars regardless of how different the rest of the documents
    are — the boilerplate/quotation/license-block detector."""
    return _winnow_core(spread(load_table(spark, sf_dir, "documents")))


def _winnow_core(
    docs: DataFrame, min_shared: int = WINNOW_MIN_SHARED
) -> DataFrame:
    """Winnow + match over any (doc_id, text) frame — split out so tests
    can plant shared runs and check the detection guarantee."""
    min_len = WINNOW_K + WINNOW_W - 1
    docs = docs.filter(F.col("text").isNotNull()).filter(
        F.length("text") >= min_len
    )
    fp = _winnow_fp_sql(lambda j: f"codes[i + {j - 1}]" if j else "codes[i - 1]")
    sel = (
        docs.withColumn(
            "codes",
            F.expr(
                "transform(sequence(1, length(text)),"
                " p -> CAST(ascii(substr(text, p, 1)) AS BIGINT))"
            ),
        )
        .withColumn(
            "fps",
            F.expr(
                f"transform(sequence(1, size(codes) - {WINNOW_K - 1}),"
                f" i -> {fp})"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"sequence(1, size(fps) - {WINNOW_W - 1}),"
                    f" j -> array_min(slice(fps, j, {WINNOW_W}))))"
                )
            ).alias("fp"),
        )
        # the selected-fp frame feeds the df aggregate AND both self-join
        # sides: without materialization the whole per-char fingerprint
        # pipeline executes 4x (4 FileScans in the physical plan); the
        # winnowed frame is the ~2/(W+1)-dense index a production pass
        # persists anyway
        .localCheckpoint()
    )
    dfreq = sel.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    good = sel.join(
        dfreq.filter(F.col("df") <= WINNOW_MAXDF).select("fp"), "fp"
    )
    a = good.select(F.col("fp").alias("fp"), F.col("doc_id").alias("doc_a"))
    b = good.select(F.col("fp").alias("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        # no output sort: pair lists are full-output-sized on a dup-dense
        # corpus (event_gaps contract; the compare is order-insensitive)
    )


def winnow_matches_oracle() -> str:
    min_len = WINNOW_K + WINNOW_W - 1
    fp = _winnow_fp_sql(
        lambda j: f"CAST(ascii(substr(d.text, i.i + {j}, 1)) AS BIGINT)"
        if j
        else "CAST(ascii(substr(d.text, i.i, 1)) AS BIGINT)"
    )
    return f"""
WITH d AS (
    SELECT doc_id, text FROM documents
    WHERE text IS NOT NULL AND length(text) >= {min_len}
),
g AS (
    SELECT d.doc_id, i.i AS pos, {fp} AS h
    FROM d, LATERAL (
        SELECT unnest(range(1, length(d.text) - {WINNOW_K - 2})) AS i
    ) i
),
w AS (
    SELECT doc_id, pos,
           MIN(h) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING
           ) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS n
    FROM g
),
sel AS (
    SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n - {WINNOW_W - 1}
),
good AS (
    SELECT s.doc_id, s.fp FROM sel s
    JOIN (
        SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAXDF}
    ) k ON s.fp = k.fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM good a JOIN good b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


# -- Zipf power-law fit (corpus-health statistic) ----------------------------

# A healthy natural-language corpus has a near -1 log-log slope of
# frequency vs rank (Zipf '49); generated/corrupted/deduplicated-to-death
# corpora drift visibly. One regression aggregate over the frequency head
# gives the monitoring number corpus-QA dashboards track.
ZIPF_HEAD = 500  # fit over the top-N ranks (the power law holds in the head;
# the hapax tail follows a different regime and would bias the slope)


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of ln(freq) against ln(rank) over the top
    ``ZIPF_HEAD`` vocabulary ranks: (slope, intercept, r2, n_points) —
    one row. Slope ≈ −1 is the Zipfian health signal.

    Plan shape: one token explode + word-keyed count (the ``word_counts``
    aggregation), a rank window over the |vocab|-sized frame, and ONE
    ``regr_*`` aggregate over ≤ ZIPF_HEAD points — the whole regression
    is a 3-value reduce, no matrix anywhere. At 100 TB only the token
    count aggregation sees corpus-scale data."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # TakeOrdered top-N FIRST (distributed per-partition top-N + driver
    # merge), THEN rank the 500-row frame — a global rank window over the
    # full vocabulary would sort |vocab| rows in one partition
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    head = (
        freq.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(ZIPF_HEAD)
        .withColumn("rnk", F.row_number().over(w))
    )
    return head.agg(
        F.round(F.expr("regr_slope(ln(cnt), ln(rnk))"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ln(cnt), ln(rnk))"), 6).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(ln(cnt), ln(rnk))"), 6).alias("r2"),
        F.expr("regr_count(ln(cnt), ln(rnk))").alias("n_points"),
    )


ZIPF_FIT_ORACLE = f"""
WITH freq AS (
    SELECT w.word, COUNT(*) AS cnt
    FROM documents d, LATERAL unnest(string_split(d.text, ' ')) AS w(word)
    WHERE w.word <> ''
    GROUP BY w.word
),
head AS (
    SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rnk
    FROM freq QUALIFY rnk <= {ZIPF_HEAD}
)
SELECT ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS slope,
       ROUND(regr_intercept(ln(cnt), ln(rnk)), 6) AS intercept,
       ROUND(regr_r2(ln(cnt), ln(rnk)), 6) AS r2,
       regr_count(ln(cnt), ln(rnk)) AS n_points
FROM head
"""


# -- Heaps-law vocabulary growth + corpus entropy ----------------------------

# Two more corpus-health numbers every curation dashboard tracks: how fast
# the vocabulary grows with the corpus (Heaps '78: V ~ K·T^beta — dedup
# and boilerplate push beta DOWN; noise/garbage push it toward 1), and the
# unigram/bigram Shannon entropy (compressibility proxy; collapsed or
# templated corpora show depressed conditional entropy).
HEAPS_FRACS = [1 / 128, 1 / 64, 1 / 32, 1 / 16, 1 / 8, 1 / 4, 1 / 2, 1.0]


def heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth at geometric doc-id prefixes plus the fitted
    Heaps exponent: (frac, n_tokens, vocab, beta) — 8 rows, beta repeated
    (the regr_slope of ln(vocab) on ln(n_tokens) over these points).

    Plan shape: ONE token pass produces per-word first-occurrence
    (min doc_id — a word's earliest prefix membership) and per-doc token
    counts; each prefix statistic is then a conditional sum over those
    REDUCED frames (vocab-sized and docs-sized), never a rescan of the
    corpus per prefix. The prefix axis uses doc_id rank fractions of the
    max id — deterministic, ordering-free, and oracle-identical."""
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # reduced frames: first occurrence per word; token count per doc
    first_seen = toks.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    doc_toks = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    max_id = docs.agg(F.max("doc_id").alias("m"))

    # thresholds use the SAME 6-dp-rounded fraction as the oracle's
    # VALUES list (and the output column): the exact 1/128 = 0.0078125 vs
    # rounded 0.007812 cut different doc_ids on corpora where an integer
    # id falls in the gap — latent on current fixtures, fatal on a bigger
    # id range
    vocab_sums = first_seen.crossJoin(F.broadcast(max_id)).agg(
        *[
            F.sum(
                F.when(
                    F.col("first_doc")
                    <= (F.col("m") * F.lit(round(frac, 6))),
                    1,
                ).otherwise(0)
            ).alias(f"v{i}")
            for i, frac in enumerate(HEAPS_FRACS)
        ]
    )
    token_sums = doc_toks.crossJoin(F.broadcast(max_id)).agg(
        *[
            F.sum(
                F.when(
                    F.col("doc_id") <= (F.col("m") * F.lit(round(frac, 6))),
                    F.col("n_tok"),
                ).otherwise(0)
            ).alias(f"t{i}")
            for i, frac in enumerate(HEAPS_FRACS)
        ]
    )
    points = (
        vocab_sums.crossJoin(token_sums)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(round(frac, 6)).alias("frac"),
                            F.col(f"t{i}").cast("bigint").alias("n_tokens"),
                            F.col(f"v{i}").cast("bigint").alias("vocab"),
                        )
                        for i, frac in enumerate(HEAPS_FRACS)
                    ]
                )
            ).alias("p")
        )
        .select("p.frac", "p.n_tokens", "p.vocab")
        # points feeds the beta aggregate AND the output select; without
        # materialization the corpus-scale token lineage executes twice
        .localCheckpoint()
    )
    beta = points.agg(
        F.round(
            F.expr("regr_slope(ln(vocab), ln(n_tokens))"), 6
        ).alias("beta")
    )
    return (
        points.crossJoin(F.broadcast(beta))
        .select("frac", "n_tokens", "vocab", "beta")
        .orderBy("frac")
    )


def heaps_fit_oracle() -> str:
    fracs = ", ".join(
        f"({round(f, 6)!r}, {i})" for i, f in enumerate(HEAPS_FRACS)
    )
    return f"""
WITH toks AS (
    SELECT d.doc_id, w.word
    FROM documents d, LATERAL unnest(string_split(d.text, ' ')) AS w(word)
    WHERE w.word <> ''
),
first_seen AS (SELECT word, MIN(doc_id) AS first_doc FROM toks GROUP BY word),
doc_toks AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
fr(frac, i) AS (VALUES {fracs}),
points AS (
    SELECT fr.frac,
           CAST((SELECT SUM(CASE WHEN dt.doc_id <= mx.m * fr.frac
                                 THEN dt.n_tok ELSE 0 END)
                 FROM doc_toks dt) AS BIGINT) AS n_tokens,
           CAST((SELECT SUM(CASE WHEN fs.first_doc <= mx.m * fr.frac
                                 THEN 1 ELSE 0 END)
                 FROM first_seen fs) AS BIGINT) AS vocab
    FROM fr, mx
)
SELECT p.frac, p.n_tokens, p.vocab, b.beta
FROM points p CROSS JOIN (
    SELECT ROUND(regr_slope(ln(vocab), ln(n_tokens)), 6) AS beta FROM points
) b
ORDER BY p.frac
"""


def corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus token stream: unigram H1, adjacent-
    bigram H2, and conditional H(w2|w1) = H2 − H1, in nats, plus the
    type/token ratio — (stat, value) rows. The compressibility /
    template-collapse signal next to ``zipf_fit``'s slope.

    Plan shape: the unigram and bigram frequency aggregations (the
    ``word_counts`` / ``bigram_counts`` shapes, map-side combined);
    each entropy is then −Σ (c/N)·ln(c/N) over the REDUCED frequency
    frame — one scalar aggregate per n-gram order, no corpus rescans."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    uni = (
        docs.select(F.explode(words).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.when(
        F.size(words) >= 2,
        F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        docs.select(F.explode(bigrams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    # entropy over a reduced frequency frame: total N first (1-row
    # broadcast), then one scalar aggregate — a window-in-agg is invalid
    def ent2(freq: DataFrame, name: str) -> DataFrame:
        n = freq.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("types")
        )
        return (
            freq.crossJoin(F.broadcast(n))
            .agg(
                F.round(
                    -F.sum(
                        (F.col("c") / F.col("n"))
                        * F.log(F.col("c") / F.col("n"))
                    ),
                    6,
                ).alias("h"),
                F.first("types").alias("types"),
                F.first("n").alias("tokens"),
            )
            .select(F.lit(name).alias("stat"), "h", "types", "tokens")
        )

    h1 = ent2(uni, "unigram_entropy").localCheckpoint()
    h2 = ent2(bi, "bigram_entropy").localCheckpoint()
    cond = (
        h1.select(F.col("h").alias("h1"))
        .crossJoin(h2.select(F.col("h").alias("h2")))
        .select(
            F.lit("conditional_bigram_entropy").alias("stat"),
            F.round(F.col("h2") - F.col("h1"), 6).alias("h"),
            F.lit(None).cast("bigint").alias("types"),
            F.lit(None).cast("bigint").alias("tokens"),
        )
    )
    ttr = h1.select(
        F.lit("type_token_ratio").alias("stat"),
        F.round(F.col("types") / F.col("tokens"), 6).alias("h"),
        "types",
        "tokens",
    )
    return (
        h1.unionByName(h2)
        .unionByName(cond)
        .unionByName(ttr)
        # degenerate corpora (no tokens / no bigrams) make a stat
        # undefined — drop it rather than emit a NULL row the oracle's
        # GROUP BY (zero groups over an empty frame) never produces
        .filter(F.col("h").isNotNull())
        .orderBy("stat")
    )


CORPUS_ENTROPY_ORACLE = """
WITH w AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS words
    FROM documents
),
uni AS (
    SELECT g, COUNT(*) AS c FROM (
        SELECT unnest(words) AS g FROM w
    ) GROUP BY g
),
bi AS (
    SELECT g, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(words)),
                                     i -> words[i] || ' ' || words[i + 1])) AS g
        FROM w WHERE len(words) >= 2
    ) GROUP BY g
),
h1 AS (
    SELECT 'unigram_entropy' AS stat,
           ROUND(-SUM((c / t.n) * ln(c / t.n)), 6) AS h,
           CAST(COUNT(*) AS BIGINT) AS types, CAST(t.n AS BIGINT) AS tokens
    FROM uni, (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni) t
    GROUP BY t.n
),
h2 AS (
    SELECT 'bigram_entropy' AS stat,
           ROUND(-SUM((c / t.n) * ln(c / t.n)), 6) AS h,
           CAST(COUNT(*) AS BIGINT) AS types, CAST(t.n AS BIGINT) AS tokens
    FROM bi, (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM bi) t
    GROUP BY t.n
)
SELECT stat, h, types, tokens FROM (
    SELECT stat, h, types, tokens FROM h1
    UNION ALL
    SELECT stat, h, types, tokens FROM h2
    UNION ALL
    SELECT 'conditional_bigram_entropy',
           ROUND((SELECT h FROM h2) - (SELECT h FROM h1), 6),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    UNION ALL
    SELECT 'type_token_ratio',
           ROUND(CAST((SELECT types FROM h1) AS DOUBLE) / (SELECT tokens FROM h1), 6),
           (SELECT types FROM h1), (SELECT tokens FROM h1)
) WHERE h IS NOT NULL
ORDER BY stat
"""


# -- MinHash banding calibration audit ---------------------------------------

# The text-dedup counterpart of ann_recall_audit: instead of CLAIMING the
# 4x4 banding catches J>=~0.5 pairs, measure it — exact Jaccard on every
# candidate pair (bounded verification, the LSH contract) bucketed against
# the theoretical any-band collision curve 1-(1-J^r)^b. A drifting
# empirical column is how a production pass notices its shingle/hash
# family no longer matches the banding design point.
CAL_BUCKETS = 10
CAL_MAX_PAIRS = 200_000  # exact-Jaccard verification budget (audit cap)
CAL_SEED = 61


def minhash_band_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per Jaccard decile of the MinHash-LSH candidate pairs:
    (j_bucket, n_pairs, avg_shared_bands, expected_any_band,
    sample_rate) — the measured band-collision behavior next to the
    S-curve value at the bucket midpoint.

    Plan shape: exact Jaccard runs on CANDIDATE pairs only, and on a
    deterministic hash-sample of those when they exceed
    ``CAL_MAX_PAIRS`` (round-5 ×100 find: the replica's ~100-member dup
    groups made the candidate set quadratic-in-group — ~30M pairs — and
    verifying EVERY pair put Σ|pair|·|shingles| ≈ 1.5B rows through the
    shingle re-join: 327 s wall, 184× for 100× data. A calibration
    audit is a statistical object; a uniform pair sample estimates
    every column it reports). The sample is hash-thresholded (portable
    seeded hash of the pair id, rate = min(1, budget/candidates)) so
    both engines draw the SAME pairs; ``sample_rate`` is reported so
    consumers can scale ``n_pairs`` back up. At gate scale the
    candidate count is under the budget, rate = 1.0, and the audit
    verifies every pair exactly as before. The bucket rollup is a
    10-key aggregate; avg_shared_bands is a ratio of exact integer
    sums — engine-exact without rounding concerns."""
    cand = minhash_lsh_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    rows_per_band = MINHASH_K // MINHASH_BANDS
    total = cand.agg(F.count(F.lit(1)).cast("double").alias("n_cand"))
    rate = F.least(F.lit(1.0), F.lit(float(CAL_MAX_PAIRS)) / F.col("n_cand"))
    samp = (
        cand.crossJoin(F.broadcast(total))
        .filter(
            F.expr(phash_frag("doc_a", "doc_b", seed=CAL_SEED))
            <= F.lit(float(PHASH_P)) * rate
        )
        .withColumn("sample_rate", F.round(rate, 6))
    )
    jac = _pair_jaccard(samp.select("doc_a", "doc_b"), _shingles(docs))
    bucket = F.least(
        F.floor(F.col("jaccard") * CAL_BUCKETS).cast("int"),
        F.lit(CAL_BUCKETS - 1),
    )
    mid = (F.col("j_bucket") + 0.5) / CAL_BUCKETS
    expected = F.round(
        1
        - F.pow(
            1 - F.pow(mid, float(rows_per_band)), float(MINHASH_BANDS)
        ),
        6,
    )
    return (
        samp.join(jac, ["doc_a", "doc_b"])
        .select(bucket.alias("j_bucket"), "n_shared_bands", "sample_rate")
        .groupBy("j_bucket", "sample_rate")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("n_shared_bands"), 6).alias("avg_shared_bands"),
        )
        .withColumn("expected_any_band", expected)
        .select(
            "j_bucket", "n_pairs", "avg_shared_bands", "expected_any_band",
            "sample_rate",
        )
        .orderBy("j_bucket")
    )


def minhash_band_calibration_oracle() -> str:
    rows_per_band = MINHASH_K // MINHASH_BANDS
    return f"""
WITH {_SHINGLES_SQL},
cand AS MATERIALIZED (SELECT * FROM ({minhash_lsh_oracle()})),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_cand FROM cand),
samp AS MATERIALIZED (
    SELECT c.*,
           ROUND(LEAST(1.0, {float(CAL_MAX_PAIRS)!r} / t.n_cand), 6)
               AS sample_rate
    FROM cand c CROSS JOIN tot t
    WHERE ({phash_frag('doc_a', 'doc_b', seed=CAL_SEED)})
          <= {float(PHASH_P)!r}
             * LEAST(1.0, {float(CAL_MAX_PAIRS)!r} / t.n_cand)
),
{_pair_jaccard_sql('samp')},
bucketed AS (
    SELECT LEAST(CAST(FLOOR(j.jaccard * {CAL_BUCKETS}) AS INT),
                 {CAL_BUCKETS - 1}) AS j_bucket,
           c.n_shared_bands, c.sample_rate
    FROM samp c
    JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
)
SELECT j_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(n_shared_bands), 6) AS avg_shared_bands,
       ROUND(1 - POW(1 - POW((j_bucket + 0.5) / {CAL_BUCKETS},
                             {float(rows_per_band)!r}),
                     {float(MINHASH_BANDS)!r}), 6) AS expected_any_band,
       sample_rate
FROM bucketed
GROUP BY j_bucket, sample_rate
ORDER BY j_bucket
"""


# -- SimHash Hamming-ball blocking audit --------------------------------------

# 4 bands x 16 bits over the 63-bit simhash (band 3 carries 15 bits: the
# kernel clears the sign bit). Pigeonhole guarantee: any pair within
# Hamming distance <= 3 differs in at most 3 bands, so at least one band
# matches and the pair IS generated as a candidate — the standard
# Hamming-ball blocking scheme (Manku et al., WWW'07) expressed as a
# band-equality self-join.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16
SIMHASH_HAM_NEAR = 3
# hot-bucket cap (the LEV_BLOCK_CAP hygiene): a band bucket hotter than this
# is dropped, not paired — measured occupancy is 28 at sf0.01 and 291 at
# sf0.1 (template-heavy corpus, superlinear in corpus size), and the ×100
# replica drives one bucket into a hundreds-of-millions-of-pairs straggler
# without the cap. Production recovers dropped buckets by deepening the
# bands (8×8-bit) or a secondary key, same as the MinHash family's knobs.
SIMHASH_BAND_CAP = 512


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash blocking audit: every candidate document pair that collides
    in at least one 16-bit simhash band, with its exact 63-bit Hamming
    distance and the near-duplicate verdict (distance <= 3, which the
    banding provably never misses — Manku et al.'s Hamming-ball scheme).

    The full candidate list (not just the accepted pairs) is the audit a
    production near-dup pipeline needs: candidate volume is the cost
    driver, and the distance histogram shows whether the 16-bit bands are
    selective enough for the corpus. Plan: the simhash frame (one
    explode+aggregate pipeline) is localCheckpointed — it feeds BOTH
    self-join sides, and without the checkpoint the 64-vote aggregation
    would execute twice (measured elsewhere in this module); the band
    join's key is (band, 16-bit value), uniformly distributed by the hash
    itself, so the shuffle is skew-free and candidate volume is bounded
    by band-bucket occupancy — buckets hotter than ``SIMHASH_BAND_CAP``
    are dropped (blocking hygiene; the pigeonhole guarantee then covers
    every pair outside dropped buckets), never an all-pairs comparison."""
    sim = _simhash64_jvm_frame(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    wb = Window.partitionBy("band", "band_val")
    bands = (
        sim.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)])
            ).alias("band"),
        )
        .withColumn(
            "band_val",
            F.expr(
                f"shiftright(simhash, {SIMHASH_BAND_BITS} * band)"
                f" % {1 << SIMHASH_BAND_BITS}"
            ),
        )
        .withColumn("occ", F.count(F.lit(1)).over(wb))
        .filter(F.col("occ") <= SIMHASH_BAND_CAP)
        .drop("occ")
    )
    a = bands.select(
        "band",
        "band_val",
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
    )
    b = bands.select(
        "band",
        "band_val",
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select(
            "doc_a",
            "doc_b",
            ham.cast("int").alias("hamming"),
            (ham <= SIMHASH_HAM_NEAR).alias("is_near_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


def simhash_hamming_pairs_oracle() -> str:
    return f"""
WITH sim AS (SELECT * FROM ({simhash64_jvm_oracle()})),
bands AS (
    SELECT doc_id, simhash, b.band,
           (simhash >> ({SIMHASH_BAND_BITS} * b.band))
               % {1 << SIMHASH_BAND_BITS} AS band_val
    FROM sim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
    QUALIFY COUNT(*) OVER (PARTITION BY b.band,
                           (simhash >> ({SIMHASH_BAND_BITS} * b.band))
                               % {1 << SIMHASH_BAND_BITS})
            <= {SIMHASH_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sim_a, b.simhash AS sim_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming,
       bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAM_NEAR} AS is_near_dup
FROM cand
ORDER BY doc_a, doc_b
"""


# -- Bloom-filter membership pre-filter audit ----------------------------------

# Deterministic Bloom filter over content fingerprints: K positions per
# document from disjoint 8-hex-char windows of md5(text), each folded with
# the portable 31-mix (per-step mod — see _winnow_fp_sql for why). M is
# sized so the gate scale is clean (fill ~5%) while sf0.1 exercises a
# measurably loaded filter — in production M scales with the corpus
# (m = -n ln p / (ln 2)^2) and lives in each executor as a bitmap; here the
# bit SET is a distinct-position frame so DuckDB can replay it exactly.
BLOOM_M = 1 << 15
BLOOM_K = 4


def _bloom_pos_sql(md5_expr: str, i: int) -> str:
    """Position i: the shared portable fold over hex window i, mod M."""
    from ..functions.hashing import hex_mix_frag

    return hex_mix_frag(md5_expr, i, BLOOM_M)


def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter for incremental dedup, with its error
    measured rather than assumed: split documents 90/10 into corpus/batch
    by portable hash, build the corpus's Bloom bit set (K=4 positions per
    md5 fingerprint), probe every batch document, and reconcile against
    exact fingerprint membership — one audit row with the bit-set fill,
    maybe-counts, true duplicates, false positives, and the measured FP
    rate.

    This is the production incremental-dedup shape (``dedup_incremental``
    is the exact twin): at 100 TB the Bloom probe turns the batch-vs-corpus
    anti-join into a local bitmap test per executor, and only Bloom-maybe
    rows pay the exact join. Plan: corpus scan → K positions per doc →
    distinct (bounded by M = 32k rows, broadcastable); batch positions
    LEFT-join the bit set (bloom-hit = ALL K positions present); exact
    membership via a fingerprint LEFT SEMI twin; two tiny scalar
    aggregates crossJoined into the single audit row."""
    fp = F.md5("text")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        fp.alias("fp"),
        (F.expr(phash_frag("doc_id")) % 10 == 0).alias("is_batch"),
        F.array(
            *[F.expr(_bloom_pos_sql("md5(text)", i)) for i in range(BLOOM_K)]
        ).alias("pos"),
    ).localCheckpoint()  # feeds corpus bits, batch probes, AND exact join
    corpus = docs.filter(~F.col("is_batch"))
    batch = docs.filter(F.col("is_batch"))
    bits = (
        corpus.select(F.explode("pos").alias("pos")).distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = (
        batch.select("doc_id", F.explode("pos").alias("pos"))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg(F.min(F.coalesce(F.col("hit"), F.lit(0))).alias("all_hit"))
    )
    exact = (
        batch.join(
            corpus.select("fp").distinct().withColumn("present", F.lit(1)),
            "fp",
            "left",
        )
        .select("doc_id", F.coalesce("present", F.lit(0)).alias("exact_hit"))
    )
    per_doc = probed.join(exact, "doc_id")
    sums = per_doc.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum("all_hit").alias("bloom_maybe"),
        F.sum("exact_hit").alias("exact_dups"),
        F.sum(
            F.when((F.col("all_hit") == 1) & (F.col("exact_hit") == 0), 1)
            .otherwise(0)
        ).alias("false_positives"),
    )
    sides = corpus.agg(F.count(F.lit(1)).alias("n_corpus")).crossJoin(
        bits.agg(F.count(F.lit(1)).alias("bits_set"))
    )
    return (
        sums.crossJoin(F.broadcast(sides))
        .select(
            "n_corpus",
            "n_batch",
            "bits_set",
            F.round(F.col("bits_set") / F.lit(float(BLOOM_M)), 6).alias(
                "fill_ratio"
            ),
            "bloom_maybe",
            "exact_dups",
            "false_positives",
            F.round(
                F.col("false_positives")
                / F.nullif(
                    (F.col("n_batch") - F.col("exact_dups")).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("fp_rate"),
        )
    )


def bloom_membership_audit_oracle() -> str:
    pos_sql = ", ".join(
        f"{_bloom_pos_sql('md5(text)', i)} AS p{i}" for i in range(BLOOM_K)
    )
    return f"""
WITH base AS (
    SELECT doc_id, md5(text) AS fp,
           ({phash_frag('doc_id')}) % 10 = 0 AS is_batch,
           {pos_sql}
    FROM documents
),
long AS (
    SELECT doc_id, is_batch, unnest([{', '.join(f'p{i}' for i in range(BLOOM_K))}]) AS pos
    FROM base
),
bits AS (SELECT DISTINCT pos FROM long WHERE NOT is_batch),
probed AS (
    SELECT l.doc_id,
           MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS all_hit
    FROM long l LEFT JOIN bits b ON l.pos = b.pos
    WHERE l.is_batch
    GROUP BY l.doc_id
),
exact AS (
    SELECT d.doc_id,
           CASE WHEN EXISTS (
               SELECT 1 FROM base c WHERE NOT c.is_batch AND c.fp = d.fp
           ) THEN 1 ELSE 0 END AS exact_hit
    FROM base d WHERE d.is_batch
),
sums AS (
    SELECT COUNT(*) AS n_batch,
           CAST(SUM(p.all_hit) AS BIGINT) AS bloom_maybe,
           CAST(SUM(e.exact_hit) AS BIGINT) AS exact_dups,
           CAST(SUM(CASE WHEN p.all_hit = 1 AND e.exact_hit = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
    FROM probed p JOIN exact e ON p.doc_id = e.doc_id
),
sides AS (
    SELECT (SELECT COUNT(*) FROM base WHERE NOT is_batch) AS n_corpus,
           (SELECT COUNT(*) FROM bits) AS bits_set
)
SELECT n_corpus, n_batch, bits_set,
       ROUND(bits_set / {float(BLOOM_M)!r}, 6) AS fill_ratio,
       bloom_maybe, exact_dups, false_positives,
       ROUND(false_positives
             / NULLIF(CAST(n_batch - exact_dups AS DOUBLE), 0.0), 6) AS fp_rate
FROM sums CROSS JOIN sides
"""


# -- weighted sampling without replacement (Efraimidis–Spirakis) ---------------

WS_TOPK = 100  # sample size


def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample-without-replacement of 100 documents, weight =
    document length: the A-ES scheme (Efraimidis & Spirakis 2006) — each
    row draws u ~ U(0,1) and the sample is the top-K by key u^(1/w).
    The u here is the portable hash (seeded, engine-replayable), making
    the 'random' sample deterministic and oracle-checkable — the same
    trick the split/negative-sampling family uses.

    This is THE distributed weighted-sampling primitive: one scan, one
    top-K (no global sort — Spark's TakeOrderedAndProject keeps per-
    partition heaps of K and merges), no collect, no sequential pass over
    cumulative weights. Length-weighted document sampling is how token-
    budgeted eval/calibration subsets are drawn from a corpus. Ranks are
    computed on the ROUNDED key with doc_id tie-break so both engines
    rank identically."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (F.expr(phash_frag("doc_id", seed=97)) + F.lit(0.5)) / F.lit(
        float(PHASH_P)
    )
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 6
    )
    # top-K FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps of K, merged on the driver — no global sort, no single-
    # partition window), THEN rank the K survivors: the global
    # row_number window runs over 100 rows, not the corpus.
    top = (
        docs.select(
            "doc_id", F.col("n_chars").alias("weight"), key.alias("samp_key")
        )
        .orderBy(F.col("samp_key").desc(), F.col("doc_id").asc())
        .limit(WS_TOPK)
    )
    w = Window.orderBy(F.col("samp_key").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def weighted_sample_aes_oracle() -> str:
    return f"""
WITH keyed AS (
    SELECT doc_id, n_chars AS weight,
           ROUND(pow((({phash_frag('doc_id', seed=97)}) + 0.5)
                     / {float(PHASH_P)!r},
                     1.0 / CAST(n_chars AS DOUBLE)), 6) AS samp_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, samp_key,
       CAST(ROW_NUMBER() OVER (ORDER BY samp_key DESC, doc_id ASC) AS INT)
           AS rnk
FROM keyed
QUALIFY rnk <= {WS_TOPK}
"""


# -- n-gram novelty ------------------------------------------------------------

def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word-3-gram shingles that occur in NO other document — the uniqueness
    signal dual to the dedup family (novelty 1.0 = fully original text;
    low novelty = templated/boilerplate even when no single pair crosses
    a dedup threshold). Docs shorter than one shingle are excluded, same
    as the MinHash family built on the identical ``_shingles`` frame.

    Plan: one shingle explode (distinct-per-doc before the exchange),
    a shingle-keyed document-frequency aggregate, and a join back —
    shingle keys are near-unique so the join is skew-free; the final
    per-doc aggregate is map-side combined. Shares ``_shingles`` /
    ``_SHINGLES_SQL`` with MinHash so the feature space provably matches
    the dedup operators it complements."""
    # the shingle frame feeds BOTH the df aggregate and the join-back and
    # the explode therefore runs twice (verified: 2 FileScans in the
    # executed plan) — deliberately UNcheckpointed: a localCheckpoint
    # measured SLOWER at x1 AND x10 (1.4→2.1 s / 4.4→5.8 s; eager
    # row-materialization of the wide shingle stream costs more than the
    # second narrow explode). The tfidf_top_terms note applies at 100 TB:
    # materialize the shingle index to parquet, don't rely on either.
    sh = _shingles(spread(load_table(spark, sf_dir, "documents")))
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "novel_shingles"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "novel_shingles",
            F.round(
                F.col("novel_shingles") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty"),
        )
        # no output sort: per-doc novelty table (event_gaps contract)
    )


NGRAM_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_SQL},
df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_shingles,
       ROUND(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM shingles s JOIN df ON s.shingle = df.shingle
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# -- Levenshtein fuzzy-dup audit -------------------------------------------------

LEV_PREFIX = 24  # blocking key: first 24 chars
LEV_BLOCK_CAP = 64  # drop hot prefix blocks (standard blocking hygiene)
LEV_SIM = 0.8  # near-dup verdict: 1 - dist/max_len >= 0.8


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy-duplicate audit: candidate pairs from prefix
    blocking (same first-24-chars), verified with exact Levenshtein
    distance and a normalized similarity verdict — the record-linkage
    shape (block → compare) for near-identical text that token-level
    dedup under-weights (small in-place edits).

    Scale posture: Levenshtein is O(len²) per pair, so candidate volume
    is everything. Prefix blocks bound it; blocks hotter than
    ``LEV_BLOCK_CAP`` are DROPPED (not compared) — the standard blocking
    hygiene; production would fall back to a second key (suffix or
    winnow fingerprint) for dropped blocks. The comparison itself is a
    JVM builtin inside the block self-join — no Python."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, LEV_PREFIX).alias("blk")
    )
    wcnt = Window.partitionBy("blk")
    blocked = (
        docs.withColumn("blk_n", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("blk_n") <= LEV_BLOCK_CAP)
        .drop("blk_n")
        # feeds both self-join sides — one scan + one hot-block window,
        # not two (the simhash_hamming_pairs idiom)
        .localCheckpoint()
    )
    a = blocked.select(
        "blk", F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    b = blocked.select(
        "blk", F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    dist = F.levenshtein("ta", "tb")
    max_len = F.greatest(F.length("ta"), F.length("tb")).cast("double")
    sim = F.round(F.lit(1.0) - dist / max_len, 6)
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            dist.cast("int").alias("edit_dist"),
            sim.alias("similarity"),
            (sim >= LEV_SIM).alias("is_near_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


DEDUP_LEVENSHTEIN_ORACLE = f"""
WITH blocked AS (
    SELECT doc_id, text, substr(text, 1, {LEV_PREFIX}) AS blk
    FROM documents
    QUALIFY COUNT(*) OVER (PARTITION BY substr(text, 1, {LEV_PREFIX}))
            <= {LEV_BLOCK_CAP}
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist,
           ROUND(1.0 - levenshtein(a.text, b.text)
                 / CAST(GREATEST(length(a.text), length(b.text)) AS DOUBLE),
                 6) AS similarity
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(edit_dist AS INT) AS edit_dist, similarity,
       similarity >= {LEV_SIM} AS is_near_dup
FROM pairs
ORDER BY doc_a, doc_b
"""


# -- distribution-drift monitor (PSI) ------------------------------------------

PSI_BINS = 10  # reference-decile bins
PSI_SMOOTH = 0.5  # additive smoothing so empty batch bins stay finite
# the load-bearing spellings shared with streaming.docs_drift_psi_stream —
# ONE definition so batch/stream bin semantics are structurally identical
PSI_PCTS_SQL = ", ".join(str((i + 1) / PSI_BINS) for i in range(PSI_BINS - 1))


def psi_bin_col(cuts, length_col):
    """Bin index = number of reference cuts strictly below the length."""
    return F.size(F.filter(cuts, lambda c: length_col.cast("double") > c))


def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor between an incoming batch
    and the reference corpus (the same 90/10 portable-hash split the
    Bloom/incremental-dedup family uses): bin document length by the
    REFERENCE deciles, compare the two bin distributions, and emit the
    per-bin PSI terms — the production data-drift gate that catches a
    scraper/source change before it poisons a training mixture
    (rule of thumb: total PSI > 0.2 = investigate).

    Plan: one percentile aggregate over the reference side (the
    ``doc_length_percentiles`` spelling — both engines interpolate
    identically), the 9 cut points broadcast as a 1-row array, bin
    assignment row-local (count of cuts below the length), then a
    10-row bin × side aggregate. Shares divide exact integer counts, so
    no cross-row float-order risk; smoothing keeps ln() finite on empty
    batch bins. At 100 TB: two scans (one per statistic), everything
    else is bins-sized."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("len"),
        (F.expr(phash_frag("doc_id")) % 10 == 0).alias("is_batch"),
    )
    cuts = (
        docs.filter(~F.col("is_batch"))
        .agg(F.expr(f"percentile(len, array({PSI_PCTS_SQL}))").alias("cuts"))
        .select(F.transform("cuts", lambda c: F.round(c, 6)).alias("cuts"))
    )
    binned = docs.crossJoin(F.broadcast(cuts)).select(
        "is_batch",
        psi_bin_col(F.col("cuts"), F.col("len")).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0)).alias("n_batch"),
    )
    tot = Window.partitionBy()  # 10-row frame: integer sums, order-free
    sm = F.lit(float(PSI_SMOOTH))
    ref_share = (F.col("n_ref") + sm) / (
        F.sum("n_ref").over(tot) + sm * PSI_BINS
    )
    bat_share = (F.col("n_batch") + sm) / (
        F.sum("n_batch").over(tot) + sm * PSI_BINS
    )
    return (
        counts.select(
            "bin",
            "n_ref",
            "n_batch",
            F.round(ref_share, 6).alias("ref_share"),
            F.round(bat_share, 6).alias("batch_share"),
            F.round(
                (ref_share - bat_share) * F.log(ref_share / bat_share), 6
            ).alias("psi_term"),
        )
        .orderBy("bin")
    )


def corpus_drift_psi_oracle() -> str:
    pct_arr = ", ".join(str((i + 1) / PSI_BINS) for i in range(PSI_BINS - 1))
    return f"""
WITH docs AS (
    SELECT doc_id, length(text) AS len,
           ({phash_frag('doc_id')}) % 10 = 0 AS is_batch
    FROM documents
),
cuts AS (
    SELECT list_transform(quantile_cont(len, [{pct_arr}]),
                          c -> round(c, 6)) AS cuts
    FROM docs WHERE NOT is_batch
),
binned AS (
    SELECT d.is_batch,
           len(list_filter(c.cuts, x -> CAST(d.len AS DOUBLE) > x)) AS bin
    FROM docs d CROSS JOIN cuts c
),
counts AS (
    SELECT bin,
           CAST(SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
           CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
               AS n_batch
    FROM binned GROUP BY bin
)
SELECT bin, n_ref, n_batch,
       ROUND((n_ref + {PSI_SMOOTH!r})
             / (SUM(n_ref) OVER () + {PSI_SMOOTH!r} * {PSI_BINS}), 6)
           AS ref_share,
       ROUND((n_batch + {PSI_SMOOTH!r})
             / (SUM(n_batch) OVER () + {PSI_SMOOTH!r} * {PSI_BINS}), 6)
           AS batch_share,
       ROUND(((n_ref + {PSI_SMOOTH!r})
              / (SUM(n_ref) OVER () + {PSI_SMOOTH!r} * {PSI_BINS})
              - (n_batch + {PSI_SMOOTH!r})
                / (SUM(n_batch) OVER () + {PSI_SMOOTH!r} * {PSI_BINS}))
             * ln(((n_ref + {PSI_SMOOTH!r})
                   / (SUM(n_ref) OVER () + {PSI_SMOOTH!r} * {PSI_BINS}))
                  / ((n_batch + {PSI_SMOOTH!r})
                     / (SUM(n_batch) OVER () + {PSI_SMOOTH!r} * {PSI_BINS}))),
             6) AS psi_term
FROM counts
ORDER BY bin
"""


# -- pseudo-relevance-feedback query expansion -----------------------------------

PRF_FB_DOCS = 5  # feedback depth: top stage-1 docs mined for terms
PRF_EXP_TERMS = 3  # expansion terms added to the query
PRF_MIN_TERM_LEN = 2


def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio-style) retrieval: run the BM25
    query, mine the top-5 documents for their strongest non-query terms
    (feedback tf × corpus idf, stopwords and sub-2-char tokens excluded),
    add the top-3 as expansion terms, and rank the SECOND BM25 pass over
    the expanded query — the classic two-stage IR composition
    (``bm25_search`` is stage 1; this is the full loop).

    The expansion terms are DATA-DEPENDENT, so stage 2 filters the token
    stream by JOINING a term frame (original ∪ expansion — ≤ 6 rows,
    broadcast) rather than a literal IN — the plan stays declarative and
    the oracle replays it as a semi-join. Corpus stats and document
    frequencies reuse the stage-1 spellings; at serving scale both stages
    probe the same materialized inverted index, so PRF costs one extra
    broadcast-join round, not a corpus rescan."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.split(F.col("text"), " ")
    # four consumers re-derive this explode from the scan (stage-1 tf,
    # the feedback mine, the feedback-term df, stage-2 tf) — measured in
    # r11 and KEPT that way: checkpointing the token stream once traded
    # 3 column-pruned codegen scans for a block write + 4 deserializing
    # reads of the (larger-than-text) exploded rows, 3.55 -> 4.31 s with
    # a derived-stats variant and exactly flat (3.54) without; at 100 TB
    # the re-scan side of that trade only improves (the _ann_pq_core
    # "re-reading beats materializing" lesson).
    base = spread(docs).select(
        "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    tf1 = (
        base.filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    fb_docs = (
        _bm25_scored(tf1, stats)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(PRF_FB_DOCS)
        .select("doc_id")
    )
    fb_tf = (
        base.join(F.broadcast(fb_docs), "doc_id")
        .filter(
            (~F.col("term").isin(BM25_QUERY))
            & (~F.col("term").isin(STOPWORDS))
            & (F.length("term") >= PRF_MIN_TERM_LEN)
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fb_tf"))
        # materialized: the frame is ≤ the 5 feedback docs' vocabulary,
        # and it feeds both the df prune's broadcast side and the
        # expansion scorer — lazily each consumer re-ran the corpus pass
        .localCheckpoint()
    )
    # corpus document frequency for the FEEDBACK terms only (r10
    # optimization, guide §2.3/§3.2): the expansion scorer inner-joins df
    # on fb_tf's terms — a vocabulary bounded by five documents — so
    # aggregating df over the ENTIRE corpus vocabulary shuffled the full
    # (doc_id, term) distinct stream for nothing. The broadcast semi-join
    # drops non-feedback terms BEFORE the two-level agg's exchange; df
    # values for the surviving terms are computed over the same full
    # corpus scan, so every escore is unchanged (inner-join semantics
    # identical).
    df_fb = (
        base.join(F.broadcast(fb_tf.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_corpus"))
    )
    exp_terms = (
        fb_tf.join(df_fb, "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.round(
                F.col("fb_tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df_corpus")),
                6,
            ).alias("escore"),
        )
        .orderBy(F.col("escore").desc(), F.col("term").asc())
        .limit(PRF_EXP_TERMS)
        .select("term")
    )
    # checkpoint the ≤6-row expanded-term frame: tf2 feeds TWO consumers
    # inside _bm25_scored (the df branch and the scoring join) and each
    # would re-run the whole stage-1 + expansion DAG from the raw corpus
    # (measured 4.2 → 3.6 s min-of-3 at ×1 — an ITERATIVE-shaped reuse,
    # the copurchase_communities case, not the association_rules one)
    all_terms = (
        exp_terms.unionByName(
            spark.createDataFrame([(t,) for t in BM25_QUERY], "term string")
        )
        .distinct()
        .localCheckpoint()
    )
    tf2 = (
        base.join(F.broadcast(all_terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    return (
        _bm25_scored(tf2, stats)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP)
    )


def prf_query_expansion_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    bm25_expr = _bm25_sql_expr  # shared Okapi summand (one definition)
    return f"""
WITH base AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents WHERE text IS NOT NULL
),
stats AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
    FROM base
),
tf1 AS (
    SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
    FROM base WHERE term IN ({terms})
    GROUP BY doc_id, term
),
df1 AS (SELECT term, COUNT(*) AS df FROM tf1 GROUP BY term),
fb AS (
    SELECT tf.doc_id, ROUND(SUM({bm25_expr('df1')}), 6) AS bm25
    FROM tf1 tf JOIN df1 ON tf.term = df1.term CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id ASC
    LIMIT {PRF_FB_DOCS}
),
df_all AS (
    SELECT term, COUNT(*) AS df_corpus FROM (
        SELECT doc_id, term FROM base GROUP BY doc_id, term
    ) GROUP BY term
),
fb_tf AS (
    SELECT b.term, COUNT(*) AS fb_tf
    FROM base b JOIN fb ON b.doc_id = fb.doc_id
    WHERE b.term NOT IN ({terms}) AND b.term NOT IN ({stop})
      AND length(b.term) >= {PRF_MIN_TERM_LEN}
    GROUP BY b.term
),
exp_terms AS (
    SELECT f.term
    FROM fb_tf f JOIN df_all d ON f.term = d.term CROSS JOIN stats s
    ORDER BY ROUND(f.fb_tf * ln(CAST(s.n_docs AS DOUBLE) / d.df_corpus), 6)
             DESC, f.term ASC
    LIMIT {PRF_EXP_TERMS}
),
all_terms AS (
    SELECT term FROM exp_terms
    UNION
    SELECT unnest([{terms}]) AS term
),
tf2 AS (
    SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
    FROM base WHERE term IN (SELECT term FROM all_terms)
    GROUP BY doc_id, term
),
df2 AS (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY term)
SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(SUM({bm25_expr('df2')}), 6) AS bm25
FROM tf2 tf JOIN df2 ON tf.term = df2.term CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id ASC
LIMIT {BM25_TOP}
"""


# -- distinctive vocabulary by log-likelihood ratio --------------------------------

LLR_TOP = 5


def distinctive_terms_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive vocabulary by Dunning's log-likelihood
    ratio (Dunning 1993): for each (lang, term), the G² statistic of the
    2×2 contingency table (term vs rest-of-vocabulary, lang vs
    rest-of-corpus), keeping the top-5 OVER-represented terms per
    language — the corpus-linguistics "topic signature" pass (and the
    statistically sound replacement for raw tf-idf when comparing
    subcorpora).

    Plan: ONE token explode → (lang, term) counts; language totals,
    term totals, and the corpus total are all re-aggregations of that
    reduced frame (no second scan). The term-total join is
    vocabulary-keyed (skew-free); G² is a row-local expression with
    0·ln0 handled as 0 in BOTH engines; ranks use the ROUNDED statistic
    with term tie-breaks."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tl = (
        docs.select(
            "lang",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
            ).alias("term"),
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("k1"))
    )
    lang_tot = tl.groupBy("lang").agg(F.sum("k1").alias("n1"))
    term_tot = tl.groupBy("term").agg(F.sum("k1").alias("kt"))
    corpus = lang_tot.agg(F.sum("n1").cast("double").alias("nn"))

    def t(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    k1 = F.col("k1").cast("double")
    n1 = F.col("n1").cast("double")
    kt = F.col("kt").cast("double")
    nn = F.col("nn")
    k2 = kt - k1
    n2 = nn - n1
    e1 = n1 * kt / nn
    e2 = n2 * kt / nn
    e3 = n1 * (nn - kt) / nn
    e4 = n2 * (nn - kt) / nn
    g2 = F.lit(2.0) * (
        t(k1, e1) + t(k2, e2) + t(n1 - k1, e3) + t(n2 - k2, e4)
    )
    scored = (
        tl.join(F.broadcast(lang_tot), "lang")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(corpus))
        # n2 > 0 guard FIRST: a single-language corpus has no comparison
        # side (n2 = 0 → k2/n2 is NULL in Spark but inf in DuckDB — the
        # one div-by-zero the engines spell differently); no comparison
        # corpus = no distinctiveness signal, so emit nothing
        .filter((n2 > 0) & (k1 / n1 > k2 / n2))  # over-represented only
        .select("lang", "term", "k1", F.round(g2, 6).alias("g2"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("g2").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= LLR_TOP)
        .select("lang", "term", "k1", "g2", "rnk")
    )


DISTINCTIVE_TERMS_LLR_ORACLE = f"""
WITH tl AS (
    SELECT lang, term, COUNT(*) AS k1 FROM (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS term
        FROM documents
    ) GROUP BY lang, term
),
lt AS (SELECT lang, CAST(SUM(k1) AS BIGINT) AS n1 FROM tl GROUP BY lang),
tt AS (SELECT term, CAST(SUM(k1) AS BIGINT) AS kt FROM tl GROUP BY term),
nn AS (SELECT CAST(SUM(n1) AS DOUBLE) AS nn FROM lt),
scored AS (
    SELECT tl.lang, tl.term, tl.k1,
           ROUND(2.0 * (
               (CASE WHEN tl.k1 > 0
                     THEN tl.k1 * ln(tl.k1 / (lt.n1 * tt.kt / nn.nn))
                     ELSE 0.0 END)
             + (CASE WHEN tt.kt - tl.k1 > 0
                     THEN (tt.kt - tl.k1)
                          * ln((tt.kt - tl.k1)
                               / ((nn.nn - lt.n1) * tt.kt / nn.nn))
                     ELSE 0.0 END)
             + (CASE WHEN lt.n1 - tl.k1 > 0
                     THEN (lt.n1 - tl.k1)
                          * ln((lt.n1 - tl.k1)
                               / (lt.n1 * (nn.nn - tt.kt) / nn.nn))
                     ELSE 0.0 END)
             + (CASE WHEN (nn.nn - lt.n1) - (tt.kt - tl.k1) > 0
                     THEN ((nn.nn - lt.n1) - (tt.kt - tl.k1))
                          * ln(((nn.nn - lt.n1) - (tt.kt - tl.k1))
                               / ((nn.nn - lt.n1) * (nn.nn - tt.kt) / nn.nn))
                     ELSE 0.0 END)
           ), 6) AS g2
    FROM tl JOIN lt ON tl.lang = lt.lang
    JOIN tt ON tl.term = tt.term
    CROSS JOIN nn
    WHERE nn.nn - lt.n1 > 0
      AND CAST(tl.k1 AS DOUBLE) / lt.n1
          > CAST(tt.kt - tl.k1 AS DOUBLE) / (nn.nn - lt.n1)
)
SELECT lang, term, k1, g2,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY g2 DESC, term ASC
       ) AS INT) AS rnk
FROM scored
QUALIFY rnk <= {LLR_TOP}
ORDER BY lang, rnk
"""


# -- asymmetric containment over MinHash candidates ----------------------------------

CONTAIN_FLAG = 0.5  # near-containment verdict: max direction >= 0.5


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997's second resemblance
    measure) for the MinHash-LSH candidate pairs: C(A⊂B) = |A∩B|/|A| and
    the reverse — what quote/sub-document detection needs where Jaccard
    under-scores (a paragraph fully inside a long doc has tiny Jaccard
    but containment ≈ 1).

    Plan: candidates come from the SAME banded MinHash generator as the
    dedup family (never all-pairs); the verification joins are bounded by
    the candidate list exactly like ``_pair_jaccard``. One new shuffle
    family over the shared `_shingles` frame.

    Round 10: verification is exact-dup-collapsed — the overlap kernel
    runs per DISTINCT-text rep pair (self-loops score a group's
    identical texts: containment exactly 1.0 both ways); member pairs
    are restored by ``_expand_pairs`` with the DIRECTIONAL columns
    swapped when the canonical pair order flips the rep orientation.
    The DuckDB oracle keeps the uncollapsed spelling — equality is the
    proof."""
    idx = _lsh_index(spark, sf_dir)
    rep_cand = _rep_band_edges(idx).select(
        F.col("ga").alias("doc_a"), F.col("gb").alias("doc_b")
    )
    sh = _shingles(spread(load_table(spark, sf_dir, "documents")))
    # no output sort: the pair list is full-output-sized on a dup-dense
    # corpus (event_gaps contract; the compare is order-insensitive)
    scored = _pair_containment(rep_cand, sh)
    return _expand_pairs(
        scored.select(
            F.col("doc_a").alias("ga"),
            F.col("doc_b").alias("gb"),
            "n_inter",
            "cont_a_in_b",
            "cont_b_in_a",
            "is_contained",
        ),
        idx.groups,
        ["n_inter", "cont_a_in_b", "cont_b_in_a", "is_contained"],
        swap={"cont_a_in_b": "cont_b_in_a"},
    )


def _pair_containment(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Directional containment over the shared ``_pair_overlap`` kernel —
    split out so tests can score a planted pair without depending on the
    LSH generator's collision luck on tiny fixtures."""
    c_ab = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
    return _pair_overlap(cand, sh).select(
        "doc_a",
        "doc_b",
        "n_inter",
        F.round(c_ab, 6).alias("cont_a_in_b"),
        F.round(c_ba, 6).alias("cont_b_in_a"),
        (F.round(F.greatest(c_ab, c_ba), 6) >= CONTAIN_FLAG).alias(
            "is_contained"
        ),
    )


def containment_pairs_oracle() -> str:
    return f"""
WITH {_SHINGLES_SQL},
cand AS (SELECT doc_a, doc_b FROM ({minhash_lsh_oracle()})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
    FROM cand p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / CAST(za.n_sh AS DOUBLE), 6) AS cont_a_in_b,
       ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / CAST(zb.n_sh AS DOUBLE), 6) AS cont_b_in_a,
       ROUND(GREATEST(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                          / CAST(za.n_sh AS DOUBLE),
                      CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                          / CAST(zb.n_sh AS DOUBLE)), 6)
           >= {CONTAIN_FLAG!r} AS is_contained
FROM cand p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes za ON za.doc_id = p.doc_a
JOIN sizes zb ON zb.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


def containment_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = NEARDUP_TOPK,
    cap: int | None = NEARDUP_CAND_CAP,
    cand: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document bounded face of ``containment_pairs``: each doc's
    top-k containment partners among the MinHash-LSH candidates, ranked
    by the max-direction containment (the symmetric "how contained is
    this pair" score — both directions of a pair share it, so the
    expansion is a pure relabeling). Same rationale as
    ``dedup_ngram_jaccard_topk``: the pair list is the ×100 cost floor
    (91.7 s on the dup-dense replica, all of it pair output); a
    quote/sub-document pass wants each doc's strongest containers,
    which is k·n regardless of dup-group density.

    Round 9 (r8 verdict item 2): candidates are CAPPED per doc by
    shared-band count before the exact set-overlap verification
    (``_capped_lsh_candidates``) — verification drops from the C(g,2)
    candidate floor to ≤ 2·cap·|docs|. Recall vs the uncapped spelling
    is contract-audited (``neardup_topk_recall_audit``); ``pairs`` lets
    the audit supply pre-scored (doc_a, doc_b, containment) rows."""
    if pairs is None:
        if cand is None:
            cand = _capped_lsh_candidates(spark, sf_dir, cap)
        sh = _shingles(spread(load_table(spark, sf_dir, "documents")))
        pairs = _pair_containment(cand, sh).select(
            "doc_a",
            "doc_b",
            F.round(
                F.greatest("cont_a_in_b", "cont_b_in_a"), 6
            ).alias("containment"),
        )
    sym = _sym_expand(pairs, "containment")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("containment").desc(), F.col("neighbor").asc()
    )
    return sym.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= k
    )


def containment_topk_oracle(
    k: int = NEARDUP_TOPK, cap: int | None = NEARDUP_CAND_CAP
) -> str:
    return f"""
WITH {_SHINGLES_SQL},
{_capped_cand_sql(cap)},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
    FROM cand p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
),
scored AS (
    SELECT p.doc_a, p.doc_b,
           ROUND(GREATEST(
               ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                     / CAST(za.n_sh AS DOUBLE), 6),
               ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                     / CAST(zb.n_sh AS DOUBLE), 6)), 6) AS containment
    FROM cand p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
),
sym AS (
    SELECT doc_a AS doc_id, doc_b AS neighbor, containment FROM scored
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS neighbor, containment FROM scored
)
SELECT doc_id, neighbor, containment,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY containment DESC, neighbor ASC
       ) AS INT) AS rnk
FROM sym
QUALIFY rnk <= {k}
ORDER BY doc_id, rnk
"""


# -- RAKE keyword extraction ---------------------------------------------------

RAKE_TOP_PHRASES = 3  # phrases kept per document
RAKE_SCALE = 1_000_000  # micro-units for exact integer word-score arithmetic


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of non-stopword tokens, each word scores
    degree(w)/freq(w) over the document's candidate words (degree = its
    own count plus co-occurrences inside phrases), and a phrase scores
    the sum of its word scores; the top-3 phrases per document are the
    extracted keywords — the unsupervised keyword tagger a curation
    pipeline runs before topic routing.

    Engine-parity: word scores are exact integers in 1e-6 units
    (floor-divided — both engines floor positive integer division), so
    the per-phrase SUM is order-free; the only float appears in the final
    round. Phrase grouping is the gaps-and-islands spelling: position
    minus the non-stopword running count is constant within a run.

    Scale: every window partitions by doc_id (one shuffle by doc);
    word-stat frames are per-document aggregates, never a global
    vocabulary join. At 100 TB this is embarrassingly parallel over
    documents; nothing global exists except the final ordering."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    # cand feeds THREE consumers (phrases, wstats, scored) — without the
    # checkpoint each union branch re-scans and re-explodes the raw text
    # (plan showed 4 FileScans); the checkpointed frame is (doc_id, pos,
    # term, run) only, text never crosses the barrier
    cand = (
        toks.withColumn("is_stop", F.col("term").isin(STOPWORDS))
        .withColumn(
            "run",
            F.col("pos")
            - F.sum(F.when(~F.col("is_stop"), 1).otherwise(0)).over(w_doc),
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "pos", "term", "run")
        .localCheckpoint()
    )
    phrases = cand.groupBy("doc_id", "run").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s.term,
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # per-document word statistics over candidate words only
    wstats = (
        cand.join(
            phrases.select("doc_id", "run", "plen"), ["doc_id", "run"]
        )
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .select(
            "doc_id",
            "term",
            F.expr(f"CAST(({RAKE_SCALE} * degree) DIV freq AS BIGINT)").alias(
                "wscore_u"
            ),
        )
    )
    # a phrase string repeated in a document scores identically from every
    # run (score is a pure function of its words) — keyword candidates are
    # UNIQUE phrases, so collapse runs before ranking
    scored = (
        cand.join(wstats, ["doc_id", "term"])
        .groupBy("doc_id", "run")
        .agg(F.sum("wscore_u").alias("score_u"))
        .join(phrases, ["doc_id", "run"])
        .select("doc_id", "phrase", "score_u")
        .distinct()
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score_u").desc(), F.col("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= RAKE_TOP_PHRASES)
        .select(
            "doc_id",
            "rank",
            "phrase",
            F.round(F.col("score_u") / RAKE_SCALE, 6).alias("score"),
        )
        .orderBy("doc_id", "rank")
    )


RAKE_KEYWORDS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, term, pos - 1 AS pos
    FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    )
    WHERE term <> ''
),
cand AS (
    SELECT doc_id, term, pos,
           pos - SUM(CASE WHEN term IN ({_STOP_IN}) THEN 0 ELSE 1 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS run
    FROM toks
    QUALIFY term NOT IN ({_STOP_IN})
),
phrases AS (
    SELECT doc_id, run,
           string_agg(term, ' ' ORDER BY pos) AS phrase,
           COUNT(*) AS plen
    FROM cand GROUP BY doc_id, run
),
wstats AS (
    SELECT c.doc_id, c.term,
           ({RAKE_SCALE} * SUM(p.plen)) // COUNT(*) AS wscore_u
    FROM cand c JOIN phrases p ON p.doc_id = c.doc_id AND p.run = c.run
    GROUP BY c.doc_id, c.term
),
scored AS (
    SELECT DISTINCT s.doc_id, p.phrase, s.score_u
    FROM (
        SELECT c.doc_id, c.run, SUM(w.wscore_u) AS score_u
        FROM cand c JOIN wstats w ON w.doc_id = c.doc_id AND w.term = c.term
        GROUP BY c.doc_id, c.run
    ) s JOIN phrases p ON p.doc_id = s.doc_id AND p.run = s.run
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_u DESC, phrase)
            AS INTEGER) AS rank,
       phrase,
       ROUND(CAST(score_u AS DOUBLE) / {RAKE_SCALE}, 6) AS score
FROM scored
QUALIFY rank <= {RAKE_TOP_PHRASES}
ORDER BY doc_id, rank
"""


# -- readability profile -------------------------------------------------------


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability profile: word count, vowel-group syllable
    proxy, mean syllables/word, long-word (≥7 chars) share, and the
    Flesch reading-ease and LIX composites — the cheap text-difficulty
    gate a curation mixture uses alongside ``quality_scores``. This
    corpus has no sentence delimiters, so each document is literally one
    sentence (documented, not fudged): words-per-sentence = n_words.

    Syllables are counted as maximal vowel runs via the portable regex
    ``[aeiou]+`` (identical RE2/Java semantics) counted with
    ``regexp_count`` — same value as len(regexp_extract_all) without
    materializing the match array. Every ratio is a single
    division of exact integers (deterministic IEEE) and composites are
    written as one identical expression in both engines; floats appear
    only in the final rounded columns. Scale: row-local map over
    documents, zero shuffles — no output sort (per-doc feature table,
    the event_gaps contract; the compare is order-insensitive)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    prof = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.expr(
            "CAST(regexp_count(text, '[aeiou]+') AS BIGINT)"
        ).alias("n_syll"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 7))
        .cast("bigint")
        .alias("n_long"),
    ).filter(F.col("n_words") > 0)
    syl_pw = F.col("n_syll") / F.col("n_words")
    return prof.select(
        "doc_id",
        "n_words",
        "n_syll",
        F.round(syl_pw, 6).alias("syll_per_word"),
        F.round(F.col("n_long") / F.col("n_words"), 6).alias("long_share"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * F.col("n_words")
            - F.lit(84.6) * syl_pw,
            6,
        ).alias("flesch"),
        F.round(
            F.col("n_words") + F.lit(100.0) * F.col("n_long") / F.col("n_words"),
            6,
        ).alias("lix"),
    )


READABILITY_SCORES_ORACLE = """
WITH prof AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS n_syll,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t <> '' AND length(t) >= 7))
                AS BIGINT) AS n_long
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_words, n_syll,
       ROUND(CAST(n_syll AS DOUBLE) / n_words, 6) AS syll_per_word,
       ROUND(CAST(n_long AS DOUBLE) / n_words, 6) AS long_share,
       ROUND(206.835 - 1.015 * n_words
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch,
       ROUND(n_words + 100.0 * n_long / n_words, 6) AS lix
FROM prof WHERE n_words > 0
ORDER BY doc_id
"""


# -- tf-idf cosine over the LSH candidates ------------------------------------

TFIDF_W_SCALE = 1_000_000  # micro-unit weights: order-free integer dot products


def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face over ``_tfidf_pairs`` — no output sort (the
    event_gaps contract: the pair list is full-output-sized on a
    dup-dense corpus and the correctness compare is order-insensitive).

    Measurement note (round 8): an initial ×100 A/B appeared to show the
    SORTED spelling 1.9× faster; an interleaved U/S/U/S sequence then
    measured 113/85/66/131 s — no systematic sort effect, just the
    host's 2× variance band on this ~1.4 GB-scan + map-walk query (the
    first ×100 evaluation in a session also pays replica first-touch
    I/O). The sort is dropped for contract consistency, decided on the
    interleaved evidence, not the first A/B.

    Round 10: the cosine kernel runs per DISTINCT-text rep pair
    (exact-dup collapse; a self-loop scores a group's identical texts —
    same integer weight maps, so both engines compute the identical
    rounded value) and member pairs expand back with the symmetric
    score. The DuckDB oracle keeps the uncollapsed spelling."""
    idx = _lsh_index(spark, sf_dir)
    rep_cand = _rep_band_edges(idx).select(
        F.col("ga").alias("doc_a"), F.col("gb").alias("doc_b")
    )
    scored = _tfidf_pairs(spark, sf_dir, cand=rep_cand)
    return _expand_pairs(
        scored.select(
            F.col("doc_a").alias("ga"),
            F.col("doc_b").alias("gb"),
            "tfidf_cosine",
        ),
        idx.groups,
        ["tfidf_cosine"],
    )


def _tfidf_pairs(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """Tf-idf cosine similarity for the MinHash/LSH candidate pairs — the
    third similarity lens over the same candidate set (Jaccard:
    ``dedup_ngram_jaccard``; shingle containment: ``containment_pairs``),
    weighting by term rarity so boilerplate-heavy near-dups separate from
    topically-similar docs.

    Engine-parity: weights are floored to integer micro-units
    (w = ⌊1e6·tf·ln(N/df)⌋ — identical float product, then both engines
    floor), so dot products and norms are exact int64 sums in any order;
    the cosine's sqrt/divide chain runs once per pair on identical
    operands. Docs whose every term is corpus-universal (ln 1 = 0 → zero
    norm) are excluded by both engines rather than dividing by zero.

    Scale: candidates come from the banded LSH join (never all-pairs);
    term weights need one explode + two aggregates. The pair dot product
    joins each doc's COLLECTED (term → weight) map onto the pair stream
    and walks the smaller map row-locally — NOT the per-term explode-join
    (pairs ⋈ terms_a ⋈ terms_b), whose intermediate is Σ|pair|·|terms| —
    ~1.6 B rows at ×100, the exact shape SCALE.md find #3 removed from
    the jaccard/containment kernel (measured here: 149 s → the pair-
    stream floor). The dot is an integer sum over map lookups, so it is
    order-free and exact in any evaluation order. At 100 TB the doc-level
    weight-map frame is the vectorized inverted index a serving system
    would materialize once."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # the weight frame feeds FOUR consumers (pair probe ×2, norm ×2) —
    # checkpoint it or every branch replays the explode + both stats
    # joins (plan showed 12 FileScans / 25 exchanges); at scale this is
    # exactly the materialized inverted index the docstring promises
    w = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.lit(float(TFIDF_W_SCALE))
                * F.col("tf")
                * F.log(F.col("n") / F.col("df"))
            )
            .cast("bigint")
            .alias("wu"),
        )
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wu") * F.col("wu")).alias("n2")
    )
    if cand is None:
        cand = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    wmap = w.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "wu"))).alias("wm")
    )
    ma = wmap.select(F.col("doc_id").alias("doc_a"), F.col("wm").alias("ma"))
    mb = wmap.select(F.col("doc_id").alias("doc_b"), F.col("wm").alias("mb"))
    # walk one map's entries and probe the other: try_element_at returns
    # NULL (→ 0 term contribution) for absent keys where ANSI element_at
    # would throw; the integer sum is associative, so any entry order
    # yields the identical dot
    dot = F.aggregate(
        F.map_entries("ma"),
        F.lit(0).cast("bigint"),
        lambda acc, e: acc
        + e["value"]
        * F.coalesce(F.try_element_at("mb", e["key"]), F.lit(0).cast("bigint")),
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn("dot", dot)
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .filter((F.col("na2") > 0) & (F.col("nb2") > 0))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                / (F.sqrt(F.col("na2").cast("double"))
                   * F.sqrt(F.col("nb2").cast("double"))),
                6,
            ).alias("tfidf_cosine"),
        )
    )


def tfidf_doc_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = NEARDUP_TOPK,
    cap: int | None = NEARDUP_CAND_CAP,
    cand: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document bounded face of ``tfidf_doc_similarity``: each doc's
    top-k most tf-idf-cosine-similar candidates (deterministic tie-break
    by neighbor id). Same rationale as ``dedup_ngram_jaccard_topk``: the
    pair list is the ×100 cost floor (129.7 s, all pair output); a
    topical-similarity pass wants each doc's nearest neighbors, which is
    k·n rows regardless of dup-group density. Symmetric expansion is the
    shared row-local ``_sym_expand`` explode (never a self-union — the
    union's branches would re-run the map-dot verification twice).

    Round 9 (r8 verdict item 2): candidates CAPPED per doc by
    shared-band count before the map-dot verification
    (``_capped_lsh_candidates``); recall vs the uncapped spelling is
    contract-audited (``neardup_topk_recall_audit``); ``pairs`` lets the
    audit supply pre-scored (doc_a, doc_b, tfidf_cosine) rows."""
    if pairs is None:
        if cand is None:
            cand = _capped_lsh_candidates(spark, sf_dir, cap)
        pairs = _tfidf_pairs(spark, sf_dir, cand)
    sym = _sym_expand(pairs, "tfidf_cosine")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_cosine").desc(), F.col("neighbor").asc()
    )
    return sym.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= k
    )


def tfidf_doc_topk_oracle(
    k: int = NEARDUP_TOPK, cap: int | None = NEARDUP_CAND_CAP
) -> str:
    return f"""
WITH base AS ({tfidf_doc_similarity_oracle(cap)}),
sym AS (
    SELECT doc_a AS doc_id, doc_b AS neighbor, tfidf_cosine FROM base
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS neighbor, tfidf_cosine FROM base
)
SELECT doc_id, neighbor, tfidf_cosine,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf_cosine DESC, neighbor ASC
       ) AS INT) AS rnk
FROM sym
QUALIFY rnk <= {k}
ORDER BY doc_id, rnk
"""


def tfidf_doc_similarity_oracle(cap: int | None = None) -> str:
    """``cap=None`` replays the registered pair face (all banded
    candidates); a cap replays the bounded faces' capped candidates."""
    return f"""
WITH {_capped_cand_sql(cap)},
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    )
    WHERE term <> ''
    GROUP BY 1, 2
),
n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (
    SELECT tf.doc_id, tf.term,
           CAST(FLOOR({float(TFIDF_W_SCALE)!r} * tf.tf
                      * ln(CAST(n.n AS DOUBLE) / d.df)) AS BIGINT) AS wu
    FROM tf JOIN df d ON d.term = tf.term CROSS JOIN n_docs n
),
norms AS (SELECT doc_id, SUM(wu * wu) AS n2 FROM w GROUP BY 1),
dots AS (
    SELECT c.doc_a, c.doc_b, SUM(a.wu * b.wu) AS dot
    FROM cand c
    JOIN w a ON a.doc_id = c.doc_a
    JOIN w b ON b.doc_id = c.doc_b AND b.term = a.term
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
             6) AS tfidf_cosine
FROM cand c
LEFT JOIN dots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
JOIN norms na ON na.doc_id = c.doc_a
JOIN norms nb ON nb.doc_id = c.doc_b
WHERE na.n2 > 0 AND nb.n2 > 0
ORDER BY c.doc_a, c.doc_b
"""


# -- recall contract of the per-doc candidate cap ------------------------------

def neardup_topk_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of each CAPPED bounded dedup face against its uncapped
    spelling (all banded candidates verified), as ONE registered query —
    the quality contract of the candidate cap, continuously checkable
    instead of a one-off notebook claim (the ``ann_recall_audit``
    pattern). Truth per face = the top-k over EVERY banded candidate.

    Two recalls, because dup groups make them genuinely different:

    - ``score_recall`` — THE contract: at each (doc, rank) the capped
      face must deliver a neighbor as near as truth's (capped candidates
      ⊆ uncapped, so capped score ≤ truth score at equal rank; a hit is
      score equality at 6 dp). Inside an equivalence class of equal-
      similarity duplicates the cap may return a DIFFERENT equally-near
      member — for a curation pass that is full quality.
    - ``id_recall`` — the stricter identity overlap on (doc, neighbor)
      rows; diagnostic only, depressed by exactly those ties.

    The audit's own joins are over ≤ k·|docs| rows per side; its cost is
    the two spellings' cost (which is the point — it measures what the
    cap saves elsewhere while proving what it keeps). The banded MinHash
    index is materialized ONCE and shared by all the spellings — four
    capped faces (jaccard at both cap operating points, containment,
    tfidf) and their three uncapped comparators (the jaccard truth is
    shared by both jaccard rows) derive from the one collapsed
    ``_LshIndex``; without the sharing the audit rebuilt the signature
    subtree per spelling.

    SCOPE (r9 ADVICE): both sides draw candidates from the SAME banded
    MinHash index, so these recalls measure the CAP's loss only —
    band-level LSH misses (a true near-dup pair colliding in no band,
    probability (1-J^r)^b of the S-curve) are outside this contract and
    are NOT bounded by score_recall=1.0. The banding's own miss rate vs
    the exact generator is what ``minhash_band_calibration`` measures
    (observed collision rate per Jaccard decile against the S-curve
    value), and the exact-prefix pair face ``dedup_ngram_jaccard`` stays
    registered as the exhaustive definition.

    Round 11 restructure (r10 verdict item 1), value-identical by
    restriction: the capped candidate sets are SUBSETS of the uncapped
    one (chain edges share a band bucket, so every chain pair is a
    banded pair; self-loops and the member expansion are shared), and
    each metric is a pure per-pair function of the two documents plus
    candidate-independent corpus stats. So each metric is scored ONCE
    over the uncapped superset and the capped faces take their scores by
    an equi-join restriction — the windows that rank them are the faces'
    own (the contract under audit). Previously the three capped faces
    and the deep face re-ran their scoring pipelines (array_intersect /
    map-dot verification, plus a second tf-idf inverted-index build)
    over candidate frames the superset scoring already covered. The
    four per-face recall blocks (2 joins + 2 single-row aggregates + a
    crossJoin each) also collapse into ONE tall face-tagged pipeline:
    2 joins + 2 grouped aggregates total. The DuckDB oracle keeps the
    per-face unrestricted spelling — equality is the proof."""

    idx = _lsh_index(spark, sf_dir)
    cand_all = minhash_lsh_pairs(spark, sf_dir, index=idx).select(
        "doc_a", "doc_b"
    ).localCheckpoint()

    # one scoring pass per metric over the superset; each is consumed by
    # its truth window plus 1-2 capped restrictions, so materialize once
    # (candidate-sized frames — the same budget cand_all itself has).
    # The two capped candidate builds and the three scorings are five
    # INDEPENDENT eager materializations (all read only the checkpointed
    # idx/cand_all): submit them from a thread pool so their jobs
    # overlap and back-fill each other's stragglers (guide §2.6) instead
    # of paying five sequential job latencies. Values are unchanged —
    # each thread materializes the same deterministic frame.
    docs = load_table(spark, sf_dir, "documents")
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_cap = pool.submit(
            lambda: _capped_lsh_candidates(
                spark, sf_dir, index=idx
            ).localCheckpoint()
        )
        f_deep = pool.submit(
            lambda: _capped_lsh_candidates(
                spark, sf_dir, NEARDUP_CAND_CAP_DEEP, index=idx
            ).localCheckpoint()
        )
        f_jac = pool.submit(
            lambda: _pair_jaccard(cand_all, _shingles(docs))
            .filter(F.col("jaccard") >= 0.1)
            .localCheckpoint()
        )
        f_con = pool.submit(
            lambda: _pair_containment(cand_all, _shingles(spread(docs)))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.greatest("cont_a_in_b", "cont_b_in_a"), 6
                ).alias("containment"),
            )
            .localCheckpoint()
        )
        f_tfi = pool.submit(
            lambda: _tfidf_pairs(spark, sf_dir, cand_all).localCheckpoint()
        )
        cand_cap = f_cap.result()
        cand_deep = f_deep.result()
        jac_all = f_jac.result()
        con_all = f_con.result()
        tfi_all = f_tfi.result()

    def restrict(scored: DataFrame, cand: DataFrame) -> DataFrame:
        # scored retains every candidate pair it will ever be asked for
        # (left-join / filter semantics are doc-level or commute with the
        # restriction), so the inner join IS the capped face's score set
        return scored.join(cand, ["doc_a", "doc_b"])

    truth_jac = dedup_ngram_jaccard_topk(spark, sf_dir, 0.1, pairs=jac_all)
    truth_con = containment_topk(spark, sf_dir, pairs=con_all)
    truth_tfi = tfidf_doc_topk(spark, sf_dir, pairs=tfi_all)
    faces = [
        # (face, capped top-k rows, truth top-k rows, score column)
        (
            "jaccard",
            dedup_ngram_jaccard_topk(
                spark, sf_dir, 0.1, pairs=restrict(jac_all, cand_cap)
            ),
            truth_jac,
            "jaccard",
        ),
        (
            "jaccard_deep",
            dedup_ngram_jaccard_topk(
                spark, sf_dir, 0.1, pairs=restrict(jac_all, cand_deep)
            ),
            truth_jac,
            "jaccard",
        ),
        (
            "containment",
            containment_topk(spark, sf_dir, pairs=restrict(con_all, cand_cap)),
            truth_con,
            "containment",
        ),
        (
            "tfidf",
            tfidf_doc_topk(spark, sf_dir, pairs=restrict(tfi_all, cand_cap)),
            truth_tfi,
            "tfidf_cosine",
        ),
    ]

    def tagged(face: str, df: DataFrame, score: str, alias: str) -> DataFrame:
        return df.select(
            F.lit(face).alias("face"),
            "doc_id",
            "neighbor",
            "rnk",
            F.col(score).alias(alias),
        )

    truth_tall = reduce(
        DataFrame.unionByName,
        [tagged(f, t, s, "ts") for f, _, t, s in faces],
    )
    cap_tall = reduce(
        DataFrame.unionByName,
        [tagged(f, c, s, "cs") for f, c, _, s in faces],
    )
    id_hits = (
        cap_tall.join(truth_tall, ["face", "doc_id", "neighbor"])
        .groupBy("face")
        .agg(F.count(F.lit(1)).alias("id_hits"))
    )
    by_rank = truth_tall.join(
        cap_tall.select("face", "doc_id", "rnk", "cs"),
        ["face", "doc_id", "rnk"],
        "left",
    )
    score_stats = by_rank.groupBy("face").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count(F.when(F.col("cs") >= F.col("ts"), 1)).alias("score_hits"),
    )
    # static face spine: a face whose truth set is EMPTY must still emit
    # its row (n_truth=0, null recalls) exactly like the per-face
    # single-row aggregates did — a grouped aggregate alone would drop it
    spine = spark.createDataFrame(
        [(f,) for f, _, _, _ in faces], "face string"
    )
    zero = F.lit(0).cast("bigint")
    return (
        spine.join(score_stats, "face", "left")
        .join(id_hits, "face", "left")
        .select(
            "face",
            F.coalesce("n_truth", zero).alias("n_truth"),
            F.coalesce("score_hits", zero).alias("score_hits"),
            F.coalesce("id_hits", zero).alias("id_hits"),
            # try_divide: an empty-truth face reads null under ANSI on
            # and off (plain / raises DIVIDE_BY_ZERO with ANSI on)
            F.round(
                F.try_divide(
                    F.coalesce("score_hits", zero).cast("double"),
                    F.coalesce("n_truth", zero),
                ),
                6,
            ).alias("score_recall"),
            F.round(
                F.try_divide(
                    F.coalesce("id_hits", zero).cast("double"),
                    F.coalesce("n_truth", zero),
                ),
                6,
            ).alias("id_recall"),
        )
        .orderBy("face")
    )


def neardup_topk_recall_audit_oracle() -> str:
    # each spelling is hoisted into ONE MATERIALIZED CTE per face:
    # DuckDB's default heuristic still inlined these (the un-hinted
    # spelling replayed each face's minhash subtree per count — measured
    # 75.7 s at the sf0.01 gate; with AS MATERIALIZED each spelling
    # evaluates once → 12.2 s)
    def one(
        face: str, capped_sql: str, uncapped_sql: str, score: str
    ) -> str:
        return f"""
SELECT '{face}' AS face, n_truth, score_hits, id_hits,
       ROUND(CAST(score_hits AS DOUBLE) / n_truth, 6) AS score_recall,
       ROUND(CAST(id_hits AS DOUBLE) / n_truth, 6) AS id_recall
FROM (
    WITH cap_{face} AS MATERIALIZED ({capped_sql}),
         unc_{face} AS MATERIALIZED ({uncapped_sql})
    SELECT CAST((SELECT COUNT(*) FROM unc_{face}) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*)
                 FROM unc_{face} u
                 JOIN cap_{face} c
                   ON c.doc_id = u.doc_id AND c.rnk = u.rnk
                  AND c.{score} >= u.{score}) AS BIGINT) AS score_hits,
           CAST((SELECT COUNT(*) FROM cap_{face} c
                 JOIN unc_{face} u
                   ON u.doc_id = c.doc_id AND u.neighbor = c.neighbor)
            AS BIGINT) AS id_hits
) t"""

    parts = [
        one(
            "jaccard",
            dedup_ngram_jaccard_topk_oracle(0.1),
            dedup_ngram_jaccard_topk_oracle(0.1, cap=None),
            "jaccard",
        ),
        one(
            "jaccard_deep",
            dedup_ngram_jaccard_topk_oracle(0.1, cap=NEARDUP_CAND_CAP_DEEP),
            dedup_ngram_jaccard_topk_oracle(0.1, cap=None),
            "jaccard",
        ),
        one(
            "containment",
            containment_topk_oracle(),
            containment_topk_oracle(cap=None),
            "containment",
        ),
        one(
            "tfidf",
            tfidf_doc_topk_oracle(),
            tfidf_doc_topk_oracle(cap=None),
            "tfidf_cosine",
        ),
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY face"


# -- corpus-health: source × language mix -------------------------------------

MIX_H_SCALE = 1_000_000  # micro-units for the exact-integer entropy sum


def source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix audit: document count, distinct languages,
    the dominant language with its share, and the language entropy — the
    scraper-health dashboard row that catches a source whose language
    classifier drifted (entropy spike) or that collapsed to one language
    (entropy → 0) before it skews a training mixture.

    Entropy terms c·ln(n/c) are floored to integer micro-units per
    (source, lang) so the per-source sum is order-free; H divides the
    exact sum once. Dominant language = row_number over (count desc,
    lang) — identical total order in both engines. Scale: one grouped
    count at (source × lang) granularity, then source-sized frames."""
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = sl.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_langs")
    )
    term = F.floor(
        F.lit(float(MIX_H_SCALE))
        * F.col("c")
        * F.log(F.col("n").cast("double") / F.col("c"))
    ).cast("bigint")
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    ranked = (
        sl.join(tot, "source")
        .withColumn("h_u", term)
        .withColumn("rnk", F.row_number().over(w))
    )
    return (
        ranked.groupBy("source", "n", "n_langs")
        .agg(
            F.sum("h_u").alias("h_sum"),
            F.max(F.when(F.col("rnk") == 1, F.col("lang"))).alias("top_lang"),
            F.max(F.when(F.col("rnk") == 1, F.col("c"))).alias("top_c"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "n_langs",
            "top_lang",
            F.round(F.col("top_c") / F.col("n"), 6).alias("top_share"),
            F.round(
                F.col("h_sum").cast("double") / (F.lit(MIX_H_SCALE) * F.col("n")),
                6,
            ).alias("lang_entropy"),
        )
        .orderBy("source")
    )


SOURCE_LANG_MIX_ORACLE = f"""
WITH sl AS (
    SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
tot AS (
    SELECT source, SUM(c) AS n, COUNT(*) AS n_langs FROM sl GROUP BY 1
),
ranked AS (
    SELECT sl.source, sl.lang, sl.c, t.n, t.n_langs,
           CAST(FLOOR({float(MIX_H_SCALE)!r} * sl.c
                      * ln(CAST(t.n AS DOUBLE) / sl.c)) AS BIGINT) AS h_u,
           ROW_NUMBER() OVER (PARTITION BY sl.source
                              ORDER BY sl.c DESC, sl.lang) AS rnk
    FROM sl JOIN tot t ON t.source = sl.source
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       MAX(CASE WHEN rnk = 1 THEN lang END) AS top_lang,
       ROUND(CAST(MAX(CASE WHEN rnk = 1 THEN c END) AS DOUBLE) / n, 6)
           AS top_share,
       ROUND(CAST(SUM(h_u) AS DOUBLE) / ({MIX_H_SCALE} * n), 6)
           AS lang_entropy
FROM ranked
GROUP BY source, n, n_langs
ORDER BY source
"""


# -- corpus-health: cross-source duplication matrix ---------------------------


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source duplicates which: the verified near-dup pairs (same
    prefix-blocked 3-gram-Jaccard pipeline as ``dedup_ngram_jaccard``)
    aggregated into a source×source matrix — the provenance census that
    tells a curation team whether cross-scrape duplication (mirror sites)
    or within-source duplication (re-crawls) dominates, i.e. WHERE the
    dedup budget should go.

    Round 10 (r9 verdict item 2): the census never materializes the
    member-pair expansion. Verified edges are rep-level
    (``_ngram_rep_edges`` — one verification per distinct-text pair) and
    the matrix counts are pure multiplicity arithmetic over per-(group,
    source) member counts: a cross edge between groups i and j
    contributes cnt_i[s1]·cnt_j[s2] pairs to cell (s1,s2); a group's
    self-loop contributes cnt[s1]·cnt[s2] for s1<s2 and C(cnt,2) on the
    diagonal. A 10⁴-member boilerplate group costs O(sources), not
    C(g,2) ≈ 5·10⁷ joined rows — the ×100 sweep's 41× superlinearity was
    exactly that expansion. The DuckDB oracle keeps counting the full
    expansion — equality is the proof. The matrix itself stays
    |sources|² at most."""
    edges, groups = _ngram_rep_edges(spark, sf_dir, 0.1)
    gsrc = groups.groupBy("gid", "source").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cross = (
        edges.filter(F.col("doc_a") != F.col("doc_b"))
        .join(
            gsrc.select(
                F.col("gid").alias("doc_a"),
                F.col("source").alias("sa"),
                F.col("cnt").alias("ca"),
            ),
            "doc_a",
        )
        .join(
            gsrc.select(
                F.col("gid").alias("doc_b"),
                F.col("source").alias("sb"),
                F.col("cnt").alias("cb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("ca") * F.col("cb")).alias("npairs"),
        )
    )
    # groups whose identical-text pairs passed the threshold (and the
    # kernel's shingle gate) — their members pair among themselves
    loop_src = gsrc.join(
        edges.filter(F.col("doc_a") == F.col("doc_b")).select(
            F.col("doc_a").alias("gid")
        ),
        "gid",
    )
    within_cross = (
        loop_src.alias("a")
        .join(loop_src.alias("b"), "gid")
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("npairs"),
        )
    )
    within_same = loop_src.filter(F.col("cnt") >= 2).select(
        F.col("source").alias("source_a"),
        F.col("source").alias("source_b"),
        (F.col("cnt") * (F.col("cnt") - 1) / F.lit(2))
        .cast("long")
        .alias("npairs"),
    )
    return (
        cross.unionByName(within_cross)
        .unionByName(within_same)
        .groupBy("source_a", "source_b")
        .agg(F.sum("npairs").alias("n_dup_pairs"))
        .withColumn("is_cross_source", F.col("source_a") != F.col("source_b"))
        .orderBy(F.col("n_dup_pairs").desc(), "source_a", "source_b")
    )


def cross_source_dup_matrix_oracle() -> str:
    return f"""
WITH pairs AS (
    SELECT doc_a, doc_b FROM ({dedup_ngram_jaccard_oracle()})
)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
       LEAST(da.source, db.source) <> GREATEST(da.source, db.source)
           AS is_cross_source
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY n_dup_pairs DESC, source_a, source_b
"""


# -- corpus-health: duplicate-cluster size histogram --------------------------


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup components: for each cluster size
    how many clusters and documents it accounts for, plus the share of
    the corpus a keep-one-per-cluster pass would delete from that size
    class — the one-table summary that distinguishes "few mega-clusters"
    (boilerplate template, fix the scraper) from "many pairs" (organic
    near-dups, dedup normally).

    Builds directly on ``dedup_clusters``' component labels: one count
    per cluster, one count per size — both map-side-combined; shares
    divide exact integers against the corpus total. Scale: label frame
    is (id, label) only; everything after is histogram-sized."""
    labels = dedup_clusters(spark, sf_dir)
    n_docs = labels.agg(F.count(F.lit(1)).alias("n_total"))
    sizes = labels.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "size",
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).alias("n_docs"),
            F.round(
                (F.col("size") * F.col("n_clusters")) / F.col("n_total"), 6
            ).alias("doc_share"),
            ((F.col("size") - 1) * F.col("n_clusters")).alias("n_deletable"),
        )
        .orderBy("size")
    )


def dup_cluster_size_histogram_oracle() -> str:
    return f"""
WITH labels AS ({dedup_clusters_oracle()}),
tot AS (SELECT COUNT(*) AS n_total FROM labels),
sizes AS (SELECT cluster, COUNT(*) AS size FROM labels GROUP BY 1)
SELECT size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(size * COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(size * COUNT(*) AS DOUBLE) / MAX(t.n_total), 6)
           AS doc_share,
       CAST((size - 1) * COUNT(*) AS BIGINT) AS n_deletable
FROM sizes CROSS JOIN tot t
GROUP BY size
ORDER BY size
"""


# -- feature-hash collision audit -----------------------------------------------


def hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision census for the engine's feature-hashing space (the SAME
    ``_hash_bucket`` used by ``hashed_tf_vectors`` and ``dsir_weights``):
    per bucket, how many distinct vocabulary terms share it, plus the
    corpus-frequency mass that lands there — the audit that tells you
    whether HASH_VEC_DIM is large enough (buckets where several HIGH-MASS
    terms collide are where the hashing trick actually loses signal;
    many rare-term collisions are harmless by design).

    One explode + two grouped counts; the bucket table is HASH_VEC_DIM
    rows. Exact integers throughout; the load factor divides once."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    terms = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    buckets = (
        terms.select(_hash_bucket().alias("bucket"), "term", "tf")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("mass"),
            F.max("tf").alias("top_term_mass"),
        )
    )
    tot = buckets.agg(
        F.sum("n_terms").alias("v"), F.sum("mass").alias("m")
    )
    return (
        buckets.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_terms",
            "mass",
            F.round(F.col("mass") / F.col("m"), 6).alias("mass_share"),
            # collision loss proxy: mass in this bucket NOT from its top term
            F.round(
                (F.col("mass") - F.col("top_term_mass")) / F.col("mass"), 6
            ).alias("collided_mass_share"),
        )
        .orderBy("bucket")
    )


HASH_COLLISION_AUDIT_ORACLE = f"""
WITH terms AS (
    SELECT term, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    ) WHERE term <> ''
    GROUP BY 1
),
buckets AS (
    SELECT {_hash_bucket_sql()} AS bucket,
           COUNT(*) AS n_terms,
           SUM(tf) AS mass,
           MAX(tf) AS top_term_mass
    FROM terms GROUP BY 1
),
tot AS (SELECT SUM(n_terms) AS v, SUM(mass) AS m FROM buckets)
SELECT bucket,
       CAST(n_terms AS BIGINT) AS n_terms,
       CAST(mass AS BIGINT) AS mass,
       ROUND(CAST(mass AS DOUBLE) / m, 6) AS mass_share,
       ROUND(CAST(mass - top_term_mass AS DOUBLE) / mass, 6)
           AS collided_mass_share
FROM buckets CROSS JOIN tot
ORDER BY bucket
"""


# -- stratified k-fold assignment -------------------------------------------------

KFOLD_K = 5


def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold CV assignment over documents: fold
    = portable-hash(doc_id) mod 5, audited PER LANGUAGE STRATUM — the
    split every evaluation pipeline needs to be reproducible across
    engines and reruns (no rand(), no state), reported as the stratum ×
    fold census with each fold's share of its stratum so imbalance is a
    number, not a hope.

    One grouped count at (lang × fold); shares divide exact counts
    against a broadcast stratum total. Hash-mod stratification is the
    100 TB-safe spelling: assignment is row-local, needs no window, and
    any executor can recompute any row's fold."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        (F.expr(phash_frag("doc_id")) % KFOLD_K).alias("fold"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    strata = cells.groupBy(F.col("lang").alias("lg")).agg(
        F.sum("n_docs").alias("n_stratum")
    )
    return (
        cells.join(F.broadcast(strata), cells.lang == strata.lg)
        .select(
            "lang",
            "fold",
            "n_docs",
            "n_stratum",
            F.round(F.col("n_docs") / F.col("n_stratum"), 6).alias(
                "fold_share"
            ),
        )
        .orderBy("lang", "fold")
    )


STRATIFIED_KFOLD_ORACLE = f"""
WITH cells AS (
    SELECT lang, ({phash_frag('doc_id')}) % {KFOLD_K} AS fold,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
),
strata AS (SELECT lang AS lg, SUM(n_docs) AS n_stratum FROM cells GROUP BY 1)
SELECT lang, fold,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_stratum AS BIGINT) AS n_stratum,
       ROUND(CAST(n_docs AS DOUBLE) / n_stratum, 6) AS fold_share
FROM cells JOIN strata ON lg = lang
ORDER BY lang, fold
"""
