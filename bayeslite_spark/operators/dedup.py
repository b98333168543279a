"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design for 100 TB:
- Exact dedup is a hash-groupBy on a digest (never on the full text), so the
  shuffle carries 16-byte keys.
- Near-dup never does an O(N^2) cross join: candidate pairs come from an
  inverted-index equi-join on shingles (q31) or on LSH band buckets (q32),
  which Catalyst executes as shuffle hash joins keyed on the shingle/bucket.
  Hot shingles are the skew risk at scale; the shingle-frequency cap
  (``max_df``) drops degenerate buckets — the standard stop-shingle trick.
- All hashes are md5-derived so the DuckDB oracle reproduces them exactly
  (Spark ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT``); no engine-private hash functions
  in correctness-checked paths.

Reference parity note: bayeslite has no dedup operators — these are the
beyond-parity pipeline operators required by BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bayeslite_spark.session import local_frame
from bayeslite_spark.workload import _session_plan, _t, fan_out, register

_Q30_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("q30_dedup_exact", _Q30_ORACLE, tags=("dedup",))
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep lowest doc_id."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles_from(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from an ALREADY-PROJECTED token array.

    Callers must project the token array through a select() boundary
    first: an array expression referenced inside the transform() lambda
    is re-evaluated per element (the tokenizer would run once per shingle
    position — O(n²) per document; measured ~2× on the sf0.1 shingle
    pass), while a projected attribute is computed once per row.

    Guarded so texts with < k tokens yield an empty array (Spark's
    ``sequence(1, 0)`` would otherwise produce a DESCENDING sequence).
    ``slice`` is 1-based, matching the DuckDB oracle's 1-based list
    indexing.
    """
    positions = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingle = F.transform(positions, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return F.array_distinct(shingle)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of whitespace-tokenized text.

    Convenience Column form (streaming projections, small batches); batch
    operators on corpus-sized inputs should project the token array and
    use :func:`shingles_from` — see its per-element re-evaluation note.
    """
    return shingles_from(F.split(F.trim(text), r"\s+"), k)


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) inverted-index input; distinct per doc.

    ``fan_out`` first: shingling is the CPU-heavy projection of the dedup
    pipeline, and a small single-file scan would otherwise run it on one
    core (no-op when the scan already has >= cores partitions)."""
    tdf = fan_out(docs).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    )
    return tdf.select(
        "doc_id", F.explode(shingles_from(F.col("_toks"))).alias("shingle")
    )


def hashed_shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shash): shingles as 60-bit md5-derived ints. Joining and
    shuffling 8-byte keys instead of shingle strings cuts exchange volume
    ~4x; collisions in a 2^60 space are negligible for set semantics
    (standard hashed-shingle practice). md5-derived so the oracle
    reproduces values exactly."""
    sh = shingle_table(docs)
    shash = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint")
    return sh.select("doc_id", shash.alias("shash"))


_SHINGLE_CTE = """
toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)
)
"""

_HSH_CTE = f"""
{_SHINGLE_CTE},
hsh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shash FROM sh
)
"""

MAX_SHINGLE_DF = 1000  # stop-shingle cap: see q31 docstring

_Q31_ORACLE = f"""
WITH {_HSH_CTE.strip()},
freq AS (SELECT shash, count(*) AS df FROM hsh GROUP BY shash),
idx AS (SELECT h.doc_id, h.shash FROM hsh h JOIN freq f ON h.shash = f.shash
        WHERE f.df <= {MAX_SHINGLE_DF}),
cnt AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1, count(*) AS intersection
  FROM idx a JOIN idx b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_0, doc_id_1,
       round(intersection * 1.0 / (ca.n + cb.n - intersection), 6) AS jaccard
FROM pairs
JOIN cnt ca ON ca.doc_id = pairs.doc_id_0
JOIN cnt cb ON cb.doc_id = pairs.doc_id_1
WHERE intersection * 1.0 / (ca.n + cb.n - intersection) >= 0.5
"""


def candidate_jaccard(docs: DataFrame) -> DataFrame:
    """(doc_id_0, doc_id_1, intersection, n0, n1, jac): ALL candidate
    pairs sharing >= 1 sub-cap shingle, with the un-thresholded Jaccard
    — q31 filters this at 0.5; r66 histograms it for threshold tuning.

    Queries over a data dir's ``documents`` take this plan from
    :func:`candidate_pairs`, built once per session. That is safe only
    because every caller transforms it further: no registered entry
    returns it as it is, since a second collect of one DataFrame object
    would reuse the first collect's shuffle output
    (``workload._session_plan``)."""
    base = hashed_shingle_table(docs).cache()  # feeds freq AND the index
    # Stop-shingle hygiene: a shingle present in > MAX_SHINGLE_DF docs
    # contributes O(df^2) candidate pairs while carrying ~no Jaccard
    # signal (boilerplate). Dropping it from the index AND from set sizes
    # keeps the estimator self-consistent; the oracle applies the same
    # cap. This is the guard that prevents hot-key blowup at 100 TB.
    freq = base.groupBy("shash").agg(F.count(F.lit(1)).alias("df"))
    hot = freq.filter(F.col("df") > MAX_SHINGLE_DF).select("shash")
    # The index (cached: both sides of the self-join read it) carries
    # each doc's sub-cap set size n through the token join, so the pair
    # aggregate needs no join back to a size table; the window's
    # partition is one doc's shingles (no skew).
    sh = (base.join(F.broadcast(hot), "shash", "left_anti")
          .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
          .cache())
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.col("intersection") / (F.col("n0") + F.col("n1") - F.col("intersection"))
    # Not cached: materializing the unfiltered scored candidates cost
    # more than consumers saved (cache churn slowed warm passes).
    return (
        a.join(b, (F.col("a.shash") == F.col("b.shash")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_0"), F.col("b.doc_id").alias("doc_id_1"),
                 F.col("a.n").alias("n0"), F.col("b.n").alias("n1"))
        .agg(F.count(F.lit(1)).alias("intersection"))
        .select("doc_id_0", "doc_id_1", "intersection", "n0", "n1", jac.alias("jac"))
    )


def candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``candidate_jaccard`` over ``sf_dir``'s documents, its plan built
    once per session (``workload._session_plan``). Callers must derive a
    new DataFrame from it, never return it as it is."""
    return _session_plan(spark, sf_dir, "documents:candidate_jaccard",
                         lambda: candidate_jaccard(_t(spark, sf_dir, "documents")))


@register("q31_ngram_jaccard", _Q31_ORACLE, tags=("dedup",))
def q31_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard >= 0.5 via
    inverted-index self-join (no cross join; candidate generation and
    intersection counting are one shuffle keyed on the shingle)."""
    return (
        candidate_pairs(spark, sf_dir)
        .filter(F.col("jac") >= 0.5)
        .select("doc_id_0", "doc_id_1", F.round("jac", 6).alias("jaccard"))
    )


# --- MinHash + LSH ---------------------------------------------------------
# One md5 per shingle gives a 60-bit base integer; the k hash functions are
# affine rehashes  h_i = (base % P) * A_i + B_i mod P  (P = 2^31 - 1) — the
# standard universal-hashing family for MinHash, ~16x cheaper than k
# independent md5 calls and still exactly reproducible in the DuckDB oracle.

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
MERSENNE_P = 2_147_483_647  # 2^31 - 1
A_PARAMS = [(i * 2_654_435_761 + 104_729) % MERSENNE_P or 1 for i in range(N_HASHES)]
B_PARAMS = [(i * 97_561 + 7_919) % MERSENNE_P for i in range(N_HASHES)]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) from the hashed shingle table — the mins combine
    map-side, so the shuffle is one row per doc."""
    with_base = sh.select("doc_id", (F.col("shash") % MERSENNE_P).alias("base"))
    aggs = [
        F.min((F.col("base") * A_PARAMS[i] + B_PARAMS[i]) % MERSENNE_P).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return with_base.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket."""
    bands = []
    for b in range(N_BANDS):
        cols = [F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        bucket = F.md5(F.concat_ws(",", F.lit(str(b)), *[c.cast("string") for c in cols]))
        bands.append(sig.select("doc_id", bucket.alias("bucket")))
    all_bands = bands[0]
    for extra in bands[1:]:
        all_bands = all_bands.unionAll(extra)
    l = all_bands.alias("l")
    r = all_bands.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_id_0"), F.col("r.doc_id").alias("doc_id_1"))
        .distinct()
    )


def _sig_sql(i: int) -> str:
    return f"min(((shash % {MERSENNE_P}) * {A_PARAMS[i]} + {B_PARAMS[i]}) % {MERSENNE_P})"


def _band_sql(b: int) -> str:
    cols = " || ',' || ".join(f"h{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND))
    return f"SELECT doc_id, md5('{b}' || ',' || {cols}) AS bucket FROM sig"


_Q32_ORACLE = f"""
WITH {_HSH_CTE.strip()},
sig AS (
  SELECT doc_id, {", ".join(f"{_sig_sql(i)} AS h{i}" for i in range(N_HASHES))}
  FROM hsh GROUP BY doc_id
),
bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(N_BANDS))}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_id_0, r.doc_id AS doc_id_1
  FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
),
simed AS (
  SELECT doc_id_0, doc_id_1,
         ({" + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))})
           / {N_HASHES}.0 AS minhash_sim
  FROM cand JOIN sig a ON a.doc_id = cand.doc_id_0 JOIN sig b ON b.doc_id = cand.doc_id_1
)
SELECT doc_id_0, doc_id_1, round(minhash_sim, 6) AS minhash_sim
FROM simed WHERE minhash_sim >= 0.5
"""


@register("q32_minhash_lsh", _Q32_ORACLE, tags=("dedup",))
def q32_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4x4) near-dup detection: shingle -> signature ->
    band-bucket equi-join -> signature-similarity filter >= 0.5.

    Scale: the only joins are equi-joins on band buckets (bounded fan-out
    after stop-shingle hygiene) and a signature lookup join; signatures are
    1 row/doc. This is the linear-ish scale path vs q31's exact index join.
    """
    docs = _t(spark, sf_dir, "documents")
    sh = hashed_shingle_table(docs)
    sig = minhash_signatures(sh).cache()
    cand = lsh_candidate_pairs(sig)
    a = sig.alias("a")
    b = sig.alias("b")
    sim = sum(
        (F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)) for i in range(N_HASHES)
    ) / float(N_HASHES)
    return (
        cand.join(a, cand.doc_id_0 == F.col("a.doc_id"))
        .join(b, cand.doc_id_1 == F.col("b.doc_id"))
        .select("doc_id_0", "doc_id_1", F.round(sim, 6).alias("minhash_sim"))
        .filter(F.col("minhash_sim") >= 0.5)
    )


# --- SimHash ---------------------------------------------------------------
# 16-bit SimHash over token occurrences: token hash = first 4 hex chars of
# md5(token); bit b of the fingerprint = sign of sum over tokens of
# (+1 if bit set else -1).

SIMHASH_BITS = 16

_Q33_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 4))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id,
         {", ".join(
             f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
             f"THEN {1 << b} ELSE 0 END AS bit{b}"
             for b in range(SIMHASH_BITS))}
  FROM th GROUP BY doc_id
)
SELECT doc_id, ({" + ".join(f"bit{b}" for b in range(SIMHASH_BITS))})::BIGINT AS simhash
FROM bits
"""


@register("q33_simhash", _Q33_ORACLE, tags=("dedup",))
def q33_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash fingerprint (near-dup docs get near-equal
    fingerprints; pairing is then a cheap hamming ball / band join).

    One explode + one groupBy; the 16 bit-sums combine map-side into a
    single shuffle row per doc.
    """
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("bigint")
    th = tok.select("doc_id", h.alias("h"))
    bit_aggs = [
        F.when(
            F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)) > 0,
            F.lit(1 << b),
        )
        .otherwise(0)
        .alias(f"bit{b}")
        for b in range(SIMHASH_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*bit_aggs)
    total = sum(F.col(f"bit{b}") for b in range(SIMHASH_BITS))
    return bits.select("doc_id", total.cast("bigint").alias("simhash"))


def ngram_jaccard_prefix(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Prefix-filtered exact Jaccard join (PPJoin-style) — the 100 TB path.

    Same result set as ``q31_ngram_jaccard`` (equality-tested), different
    plan shape: only each document's rarest ``n - ceil(t*n) + 1`` shingles
    (rarest-first by document frequency) enter the candidate self-join — a
    pair sharing none of either prefix provably cannot reach Jaccard >= t.
    A length band (``t*n0 <= n1 <= n0/t``) prunes in the join condition,
    and candidates are verified with an intersection count against the
    full sets.

    Locally this loses to the plain inverted-index join (extra window +
    verify stages on 5k docs); at corpus scale the candidate-pair shuffle
    dominates everything and the ~4x candidate reduction is the win. Keep
    the plain join for small/medium corpora and switch to this when the
    pair aggregation becomes the bottleneck.
    """
    from pyspark.sql.window import Window

    base = hashed_shingle_table(docs)
    freq = base.groupBy("shash").agg(F.count(F.lit(1)).alias("df"))
    hot = freq.filter(F.col("df") > MAX_SHINGLE_DF).select("shash")
    sh = base.join(F.broadcast(hot), "shash", "left_anti")
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("shash"))
    ranked = sh.join(freq, "shash").withColumn("pos", F.row_number().over(w)).join(cnt, "doc_id")
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.col("n") * threshold) + 1
    ).select("doc_id", "shash", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shash") == F.col("b.shash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.col("a.n") * threshold)
            & (F.col("a.n") >= F.col("b.n") * threshold),
        )
        .select(F.col("a.doc_id").alias("doc_id_0"), F.col("b.doc_id").alias("doc_id_1"))
        .distinct()
    )
    s0 = sh.select(F.col("doc_id").alias("doc_id_0"), "shash")
    s1 = sh.select(F.col("doc_id").alias("doc_id_1"), "shash")
    inter = (
        cand.join(s0, "doc_id_0")
        .join(s1, ["doc_id_1", "shash"])
        .groupBy("doc_id_0", "doc_id_1")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_0"), F.col("n").alias("n0"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"))
    jac = F.col("intersection") / (F.col("n0") + F.col("n1") - F.col("intersection"))
    # No broadcast hint on ca/cb — doc-cardinality table; see q31 note.
    return (
        inter.join(ca, "doc_id_0")
        .join(cb, "doc_id_1")
        .filter(jac >= threshold)
        .select("doc_id_0", "doc_id_1", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents that share any k-token
# shingle with a benchmark/eval set — the standard training-data hygiene
# pass run before pretraining (no reference counterpart; LLM-pipeline
# extension like the rest of this module).
# ---------------------------------------------------------------------------

_X67_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 3), ' ') AS sh
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 2)) AS i) r
),
bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id < 5),
hits AS (
  SELECT s.doc_id, count(*) AS n_shared
  FROM shingles s JOIN bench b ON s.sh = b.sh
  WHERE s.doc_id >= 5
  GROUP BY s.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_shared AS BIGINT) AS n_shared
FROM hits
"""


def decontaminate_hits(docs: DataFrame, bench_pred, k: int = 4) -> DataFrame:
    """(doc_id, n_shared): corpus docs sharing >= 1 distinct k-shingle with
    the benchmark subset selected by ``bench_pred``.

    Scale: the benchmark side (eval sets) is tiny next to a pretraining
    corpus — its distinct-shingle set broadcasts, so the corpus side
    streams through one scan + shingle projection and an in-map hash
    lookup; the only exchange is the per-doc count aggregation (partial
    map-side). No corpus self-join anywhere."""
    sh = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    ).select("doc_id", F.explode(shingles_from(F.col("_toks"), k=k)).alias("sh"))
    bench = sh.filter(bench_pred).select("sh").distinct()
    return (
        sh.filter(~bench_pred)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register("q28_decontaminate", _X67_ORACLE, tags=("dedup", "pipeline"))
def q28_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: docs 0-4 stand in for the eval
    set; any other doc sharing a 4-token shingle with them is flagged
    with its shared-shingle count. (Outside the driver's 50-entry
    correctness window; oracle-checked by tools/check_oracle.py.)"""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return decontaminate_hits(docs, F.col("doc_id") < 5, k=4).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
    )


_X68_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT array_to_string(list_slice(t, i, i + 1), ' ') AS ngram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
)
SELECT ngram, CAST(count(*) AS BIGINT) AS freq
FROM grams
GROUP BY ngram
ORDER BY freq DESC, ngram
LIMIT 50
"""


@register("q29_ngram_vocab", _X68_ORACLE, tags=("text", "pipeline"))
def q29_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top 50: the vocabulary/phrase-stats
    pass of a tokenizer-training or corpus-analysis pipeline.

    Scale: occurrences partial-aggregate map-side, so the exchange carries
    <= |vocab| x partitions pre-summed rows; top-k is a TakeOrdered, not a
    global sort. (Outside the driver's 50-entry window; oracle-checked by
    tools/check_oracle.py.)"""
    tdf = fan_out(_t(spark, sf_dir, "documents")).select(
        F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    )
    tk = F.col("_toks")
    positions = F.when(
        F.size(tk) >= 2, F.sequence(F.lit(1), F.size(tk) - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(positions, lambda i: F.concat_ws(" ", F.slice(tk, i, 2)))
    return (
        tdf.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate leakage: the provenance audit a multi-source
# pretraining mix needs — how many near-duplicate pairs STRADDLE source
# boundaries (the same document arriving via two crawls/datasets inflates
# its effective epoch count; within-source duplication is ordinary
# redundancy). Pairs come from the same inverted-index Jaccard join as
# q31; this operator only attributes them to (source, source) cells.
#
# Scale: the pair set is tiny relative to the corpus, so the two
# doc_id -> source lookups are plain equi-joins the optimizer sizes
# (broadcast at bench SF, shuffle-hash at corpus scale — the documents
# side is pre-projected to two columns). The final aggregate is
# |sources|^2 cells.
# ---------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = f"""
WITH {_HSH_CTE.strip()},
freq AS (SELECT shash, count(*) AS df FROM hsh GROUP BY shash),
idx AS (SELECT h.doc_id, h.shash FROM hsh h JOIN freq f ON h.shash = f.shash
        WHERE f.df <= {MAX_SHINGLE_DF}),
cnt AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1, count(*) AS intersection
  FROM idx a JOIN idx b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
nd AS (
  SELECT doc_id_0, doc_id_1
  FROM pairs
  JOIN cnt ca ON ca.doc_id = pairs.doc_id_0
  JOIN cnt cb ON cb.doc_id = pairs.doc_id_1
  WHERE intersection * 1.0 / (ca.n + cb.n - intersection) >= 0.5
)
SELECT least(d0.source, d1.source) AS src_a,
       greatest(d0.source, d1.source) AS src_b,
       count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN d0.source <> d1.source THEN 1 ELSE 0 END)::BIGINT
         AS n_cross
FROM nd
JOIN documents d0 ON d0.doc_id = nd.doc_id_0
JOIN documents d1 ON d1.doc_id = nd.doc_id_1
GROUP BY 1, 2
"""


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, n_pairs, n_cross): near-dup pairs per canonical
    source pair; n_cross counts the boundary-straddling ones."""
    docs = _t(spark, sf_dir, "documents")
    pairs = q31_ngram_jaccard(spark, sf_dir)
    src = docs.select("doc_id", "source")
    s0 = src.select(F.col("doc_id").alias("doc_id_0"), F.col("source").alias("source_0"))
    s1 = src.select(F.col("doc_id").alias("doc_id_1"), F.col("source").alias("source_1"))
    attributed = pairs.join(s0, "doc_id_0").join(s1, "doc_id_1")
    return (
        attributed.groupBy(
            F.least("source_0", "source_1").alias("src_a"),
            F.greatest("source_0", "source_1").alias("src_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("source_0") != F.col("source_1"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_cross"),
        )
    )


@register("q70_cross_source_leakage", _CROSS_SOURCE_ORACLE, tags=("dedup", "pipeline"))
def q70_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup provenance audit: duplicate pairs per source pair.
    """
    return cross_source_leakage(spark, sf_dir)


# ---------------------------------------------------------------------------
# Near-dup connected components: pairs are not yet a dedup decision — the
# keep/drop list needs duplicate CLUSTERS (a~b, b~c => {a,b,c} keep one).
# Components come from alternating LARGE-STAR / SMALL-STAR contraction
# (Kiveris et al., "Connected Components in MapReduce and Beyond",
# SoCC'14): each round rewires every node's strictly-larger neighbours
# (large-star) and then its smaller neighbours (small-star) to the local
# minimum, halving component heights until the edge set is a union of
# stars centred on each component's global min. Rounds are O(log n) in
# the worst case — a 10k-node chain converges in ~a dozen rounds where
# plain min-label propagation needs 10k (asserted by
# tests/test_operators.py::test_neardup_components_chain_graph_logn).
# Every round is two equi-join + map-side-combined min aggregates on the
# EDGE set — never all-pairs; the convergence check is a scalar count.
# Per-round edge sets are cached and the previous round's cache released.
# ---------------------------------------------------------------------------

# Shared CTE prefixes for every oracle over the near-dup pair graph —
# q71/r07/r39 (transitive closure) and r43 (triangles) compose from these
# constants so a cosmetic edit can't silently desync them.
_PAIRS_CTES = f"""WITH RECURSIVE {_HSH_CTE.strip()},
freq AS (SELECT shash, count(*) AS df FROM hsh GROUP BY shash),
idx AS (SELECT h.doc_id, h.shash FROM hsh h JOIN freq f ON h.shash = f.shash
        WHERE f.df <= {MAX_SHINGLE_DF}),
cnt AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d0, b.doc_id AS d1, count(*) AS i
  FROM idx a JOIN idx b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
nd AS (
  SELECT d0, d1 FROM pairs
  JOIN cnt ca ON ca.doc_id = d0 JOIN cnt cb ON cb.doc_id = d1
  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
)"""

_REACH_CTES = f"""{_PAIRS_CTES},
edges AS (SELECT d0 AS src, d1 AS dst FROM nd UNION SELECT d1, d0 FROM nd),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)"""

_NEARDUP_COMPONENTS_ORACLE = f"""
{_REACH_CTES}
SELECT src AS doc_id,
       least(src, min(dst))::BIGINT AS component,
       (CASE WHEN least(src, min(dst)) = src THEN 1 ELSE 0 END)::BIGINT
         AS is_survivor
FROM reach GROUP BY src
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star contraction on an edge set oriented ``u > v``.

    Symmetrize, then for every centre ``u`` attach each strictly-larger
    neighbour to ``m = min(N(u) ∪ {u})``. Output stays oriented ``u > v``
    (the emitted edge is (larger-neighbour, m) with m < u < neighbour)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star contraction on an edge set oriented ``u > v``.

    For every centre ``u`` rewire its (all-smaller) neighbours AND ``u``
    itself to ``m = min(N(u))``; self-loops (m, m) are dropped. Output
    remains oriented ``u > v``."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        edges.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
    )
    return rewired.filter(F.col("u") != F.col("v")).distinct()


def _components_driver(spark, edge_rows) -> DataFrame:
    """Union-find on a BOUNDED collected edge list (min-root convention,
    identical output to the distributed star contraction)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edge_rows:
        a, b = find(int(r[0])), find(int(r[1]))
        if a != b:
            parent[max(a, b)] = min(a, b)
    out = [(x, find(x)) for x in parent]
    return local_frame(
        spark, [(d, c, 1 if d == c else 0) for d, c in out],
        "doc_id long, component long, is_survivor long",
    )


def neardup_components(pairs: DataFrame, max_iter: int = 25,
                       driver_threshold: int = 200_000) -> DataFrame:
    """(doc_id, component, is_survivor) for every doc in the pair graph.

    ``component`` is the min doc_id of the connected component;
    ``is_survivor`` marks the one doc per cluster a dedup pass keeps.

    ``pairs`` may hold duplicate, reversed and self pairs: union-find
    ignores them, and the first star round's ``distinct()`` drops them.

    Hybrid execution, AQE-style: once the oriented pair-row count is
    known, graphs at or under ``driver_threshold`` rows (a few MB)
    union-find on the driver in one pass — near-dup GRAPHS are tiny
    relative to the corpus, and a dozen Spark jobs of fixed overhead
    would dominate. Larger graphs run the distributed alternating
    large-star/small-star contraction, which converges in O(log n)
    rounds even on adversarial chain graphs; raises if the edge set has
    not reached the star fixpoint within ``max_iter`` rounds. Both paths
    produce identical output (equality-tested)."""
    # Each round references the previous edge set ~4× (symmetrize +
    # join + union), so without lineage truncation the logical plan
    # grows 4^rounds and Catalyst analysis OOMs. localCheckpoint
    # materializes each round and cuts the plan flat (and its job
    # observes the edge count) — on a real cluster swap for reliable
    # `checkpoint()` to HDFS for fault tolerance; the per-round job
    # shape is identical.  No distinct(): a higher count at worst sends
    # a graph to the distributed path, whose fixpoint test is set-based.
    edges, n_edges = _truncate_counted(
        pairs.select(
            F.greatest("doc_id_0", "doc_id_1").alias("u"),
            F.least("doc_id_0", "doc_id_1").alias("v"),
        )
    )
    if n_edges <= driver_threshold:
        return _components_driver(pairs.sparkSession, edges.collect())
    for _ in range(max_iter):
        new, n_new = _truncate_counted(_small_star(_large_star(edges)))
        # Fixpoint: the edge set is stable (same size, nothing new) —
        # a union of stars centred on each component's global min.
        changed = 1 if n_new != n_edges else new.subtract(edges).count()
        edges, n_edges = new, n_new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    # only this distributed path reads the node list
    nodes = (
        pairs.select(F.col("doc_id_0").alias("doc_id"))
        .union(pairs.select("doc_id_1"))
        .distinct()
    )
    out = (
        nodes.join(
            edges.select(
                F.col("u").alias("doc_id"), F.col("v").alias("component")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").cast("long").alias("component"),
        )
    )
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).cast("long").alias("is_survivor"),
    )


@register("q71_neardup_components", _NEARDUP_COMPONENTS_ORACLE, tags=("dedup",))
def q71_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters (connected components) over the q31 near-dup
    pair graph, with the per-cluster survivor flag.

    Oracle: DuckDB recursive-CTE transitive closure.
    """
    return neardup_components(q31_ngram_jaccard(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup RESOLUTION: q71 tells you which docs cluster together; this is
# the decision step every production pipeline runs next — keep exactly
# ONE document per near-dup cluster, chosen by content quality (q21's
# deterministic score) with doc_id as the tie-break, and emit an
# auditable keep/drop verdict for EVERY corpus document.
#
# Scale: the pair graph is a small fraction of the corpus, so docs with
# no near-dup partner (the overwhelming majority at 100 TB) take a
# bypass — one equi-join against the component table (AQE broadcasts
# it) and keep=1, never entering a window. Only clustered docs shuffle
# by component for the row_number, and that input is pair-graph-sized.
# The quality score itself is a narrow codegen projection (q21).
# ---------------------------------------------------------------------------

_QUALITY_CTE = """quality AS (
  SELECT doc_id, quality FROM (
    SELECT doc_id,
           length(text) AS n,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
           len(regexp_extract_all(text, '[A-Za-z]')) AS alpha,
           len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
           len(regexp_extract_all(lower(text),
               '\\b(the|a|and|of|to|in|is|that|it|for)\\b')) AS stops
    FROM documents
  ) s CROSS JOIN LATERAL (SELECT
       round(0.4 * (alpha * 1.0 / n)
           + 0.3 * least(stops * 1.0 / greatest(toks, 1), 0.5) / 0.5
           + 0.3 * (1.0 - least(punct * 1.0 / n, 0.2) / 0.2), 6) AS quality) f
)"""


_DEDUP_RESOLUTION_ORACLE = f"""
{_REACH_CTES},
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
),
{_QUALITY_CTE},
j AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS component,
         q.quality
  FROM documents d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
  JOIN quality q ON q.doc_id = d.doc_id
)
SELECT doc_id,
       component::BIGINT AS component,
       quality,
       (CASE WHEN row_number() OVER (
            PARTITION BY component ORDER BY quality DESC, doc_id) = 1
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM j
"""


@register("r07_dedup_resolution", _DEDUP_RESOLUTION_ORACLE,
          tags=("dedup", "pipeline"))
def r07_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster dedup resolution: every corpus doc gets
    (component, quality, keep), where keep=1 marks the highest-quality
    doc of its q71 near-dup cluster (tie-break: lowest doc_id).

    The quality ranking key is q21's round(…, 6) score — bit-identical
    on both engines (q21 hash-matches), so DESC ordering plus the
    integer tie-break is fully deterministic. Reference analogue: the
    reference has no dedup at all; this extends its data-cleaning
    surface (src/backend.py's generator lifecycle is the closest
    concept) with the step LLM corpus pipelines run after clustering.
    """
    from pyspark.sql.window import Window

    from bayeslite_spark.operators.text import q21_quality_score

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    comp = neardup_components(q31_ngram_jaccard(spark, sf_dir)).select(
        "doc_id", "component"
    )
    quality = q21_quality_score(spark, sf_dir).select("doc_id", "quality")
    # materialize the narrow (doc_id, component, quality) frame ONCE
    # (round-9): the singleton-bypass and the clustered-window branches
    # both read it, and uncached each branch re-ran the q21 regex
    # battery over the full corpus text (guide §2.4 — remove the
    # recompute; the frame is 3 numeric columns per doc, and the
    # singleton bypass still keeps the window input pair-graph-sized)
    joined = (docs.join(comp, "doc_id", "left").join(quality, "doc_id")
              .localCheckpoint(eager=True))
    singles = joined.filter(F.col("component").isNull()).select(
        "doc_id",
        F.col("doc_id").cast("long").alias("component"),
        "quality",
        F.lit(1).cast("long").alias("keep"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    clustered = (
        joined.filter(F.col("component").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            F.col("component").cast("long").alias("component"),
            "quality",
            (F.col("rk") == 1).cast("long").alias("keep"),
        )
    )
    return singles.unionByName(clustered)


# ---------------------------------------------------------------------------
# Exact-substring (passage) overlap: the window-level exact dedup signal
# of "Deduplicating Training Data Makes Language Models Better" (Lee et
# al. 2022), at a fixed window size — for each document, how many of its
# distinct W-word windows also appear verbatim in some OTHER document.
# High overlap_frac => boilerplate / copied passages => trim or drop.
#
# Scale: windows ship as md5 hashes (16 bytes), distinct per doc BEFORE
# the explode (array_distinct on the projection); the frequency aggregate
# partial-combines map-side, and the join back to windows is an equi-join
# on the hash — the same inverted-index shape as q31, no all-pairs
# anywhere. The suffix-array construction of the paper is the exact-match
# generalization; the fixed-W windowed form is what distributes as plain
# relational algebra.
# ---------------------------------------------------------------------------

_PASSAGE_W = 8  # window length in words

_PASSAGE_OVERLAP_ORACLE = f"""
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents
), wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(ws[i:i + {_PASSAGE_W - 1}], ' ')) AS w
  FROM words, UNNEST(range(1, len(ws) - {_PASSAGE_W - 2})) AS t(i)
  WHERE len(ws) >= {_PASSAGE_W}
), freq AS (
  SELECT w, count(*) AS df FROM wins GROUP BY w
)
SELECT doc_id,
       count(*)::BIGINT AS n_windows,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
       sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)
         AS overlap_frac
FROM wins JOIN freq USING (w)
GROUP BY doc_id
"""


def passage_overlap(docs: DataFrame, w: int = _PASSAGE_W) -> DataFrame:
    """(doc_id, n_windows, n_shared, overlap_frac): distinct W-word
    windows per document and how many also occur in another document."""
    tdf = fan_out(docs).select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias("_toks"),
    )
    tk = F.col("_toks")
    positions = F.when(
        F.size(tk) >= w, F.sequence(F.lit(1), F.size(tk) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = F.array_distinct(
        F.transform(positions,
                    lambda i: F.md5(F.concat_ws(" ", F.slice(tk, i, w))))
    )
    per_doc = tdf.select("doc_id", F.explode(wins).alias("w"))
    freq = per_doc.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        per_doc.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum((F.col("df") >= 2).cast("int")).cast("long").alias("n_shared"),
            (F.sum((F.col("df") >= 2).cast("int"))
             / F.count(F.lit(1))).alias("overlap_frac"),
        )
    )


@register("q73_passage_overlap", _PASSAGE_OVERLAP_ORACLE, tags=("dedup", "pipeline"))
def q73_passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-level exact-substring overlap per document (Lee et al. 2022
    style, fixed 8-word windows).
    """
    return passage_overlap(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: the SCALE PATH of q28 for large eval
# sets.  q28 broadcasts the eval set's distinct shingle STRINGS — right
# when the eval suite is thousands of docs, wrong when it is millions of
# shingles (a multi-GB broadcast).  Here the eval shingles compress to a
# Bloom bitmap at ~1.5 bytes/key (m = 12 bits/key, 6 probes via
# Kirsch-Mitzenmacher double hashing), shipped as ONE array<long>
# literal; the corpus-side membership probe is pure whole-stage codegen
# (two xxhash64 calls + 6 bit tests per shingle — no UDF, no join, no
# corpus shuffle before the per-doc count).  Bloom guarantees NO false
# negatives: every exact hit is flagged; false positives (rate ~2^-6
# per distinct shingle probed) only ever OVER-flag, the safe direction
# for decontamination.  Spark 4 does not expose bloom_filter_agg /
# stat.bloomFilter to Python, so the filter is built with DataFrame ops:
# the eval side's distinct (h1, h2) pairs collect to the driver (bounded
# by the eval-shingle count — the same cardinality q28 broadcasts, but
# collected once to BUILD a 10-100x smaller shipped object).
# ---------------------------------------------------------------------------

_BLOOM_HASHES = 6
_BLOOM_BITS_PER_KEY = 12


def _bloom_build(pairs: list[tuple[int, int]], m: int) -> list[int]:
    """Pack Kirsch-Mitzenmacher probe positions into an m-bit bitmap as
    int64 words (signed, matching Spark's long)."""
    words = [0] * ((m + 63) // 64)
    for h1, h2 in pairs:
        # reduce mod m BEFORE combining — the Spark probe does the same so
        # neither side ever overflows a 64-bit long (ANSI mode throws on
        # wrap); Python % and Spark pmod agree for positive m
        h1m, h2m = h1 % m, h2 % m
        for i in range(_BLOOM_HASHES):
            p = (h1m + i * h2m) % m
            words[p >> 6] |= 1 << (p & 63)
    # to signed 64-bit for the Spark long literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_decontaminate(docs: DataFrame, bench_pred, k: int = 4) -> DataFrame:
    """(doc_id, n_hit_shingles): corpus docs whose distinct k-shingles hit
    the Bloom filter built over the benchmark subset's shingles.

    Superset-of-exact by construction (no false negatives); see
    decontaminate_hits for the exact broadcast-join formulation."""
    sh = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    ).select("doc_id", F.explode(shingles_from(F.col("_toks"), k=k)).alias("sh"))
    # double-hash components; |1 on h2 keeps probe strides odd (nonzero)
    h1 = F.xxhash64("sh")
    h2 = F.expr("CAST(xxhash64(sh, 1L) AS LONG) | 1L")
    bench_pairs = (
        sh.filter(bench_pred).select("sh").distinct()
        .select(h1.alias("h1"), h2.alias("h2"))
        .collect()
    )
    n_keys = max(len(bench_pairs), 1)
    m = 1
    while m < n_keys * _BLOOM_BITS_PER_KEY:
        m <<= 1
    words = _bloom_build([(r["h1"], r["h2"]) for r in bench_pairs], m)
    # membership probe, all codegen: the mod-reduced hash pair is PROJECTED
    # once (not re-evaluated per probe — the shingles_from lesson), and the
    # 6 probes unroll to 6 ANDed bit tests (no per-row sequence allocation)
    bitmap = F.lit(words)  # array<long> literal (m/64 words)
    probes = [
        F.expr(
            "(element_at(__bloom, CAST(pmod(__h1m + {i}L * __h2m, {m}L) DIV 64 AS INT) + 1)"
            " & shiftleft(1L, CAST(pmod(pmod(__h1m + {i}L * __h2m, {m}L), 64L) AS INT))"
            ") != 0L".format(i=i, m=m)
        )
        for i in range(_BLOOM_HASHES)
    ]
    probe = probes[0]
    for p in probes[1:]:
        probe = probe & p
    return (
        sh.filter(~bench_pred)
        .select("doc_id",
                F.pmod(h1, F.lit(m)).alias("__h1m"),
                F.pmod(h2, F.lit(m)).alias("__h2m"))
        .withColumn("__bloom", bitmap)
        .filter(probe)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


@register("x69_bloom_decontam", None, tags=("dedup", "pipeline"))
def x69_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination sweep (docs 0-4 as the eval set) —
    q28's scale path; rows-only (xxhash64 bit patterns are not
    reproducible in ANSI SQL), superset-of-exact asserted in tests."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return bloom_decontaminate(docs, F.col("doc_id") < 5, k=4).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_hit_shingles").cast("bigint").alias("n_hit_shingles"),
    )


# ---------------------------------------------------------------------------
# r17: shingle CONTAINMENT near-dup — pairs where the smaller document's
# shingle set sits (almost) inside the larger one's:
# containment = |A∩B| / min(|A|,|B|).  Catches quote-expansion and
# article-inside-aggregator duplicates that symmetric Jaccard MISSES
# (a 100-shingle doc embedded in a 2000-shingle doc has jaccard ~0.05
# but containment 1.0) — the filter restricts to jaccard < 0.5, so
# every emitted pair is invisible to q31.
#
# Scale: exactly q31's plan — same capped inverted-index self-join, same
# count-join (no broadcast hint on the doc-cardinality side, AQE sizes
# it); only the final ratio/filter differ.  containment is a pure
# integer ratio (single division — no rounding needed).
# ---------------------------------------------------------------------------

CONTAINMENT_THR = 0.8

_R17_ORACLE = f"""
WITH corp AS (
  SELECT doc_id, text FROM documents
), snip AS (
  -- planted snippet docs: the first 15 tokens of every 13th long doc,
  -- re-issued under doc_id + 1000000 — contained in their source
  -- (containment 1.0) but far below the Jaccard threshold
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(
           list_filter(string_split(trim(text), ' '), w -> w <> ''),
           1, 15), ' ') AS text
  FROM documents
  WHERE doc_id % 13 = 0
    AND len(list_filter(string_split(trim(text), ' '), w -> w <> '')) >= 40
), docs2 AS (
  SELECT * FROM corp UNION ALL SELECT * FROM snip
),
toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM docs2
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(ts) - 1, 1))) AS t(i)
),
hsh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shash FROM sh
),
freq AS (SELECT shash, count(*) AS df FROM hsh GROUP BY shash),
idx AS (SELECT h.doc_id, h.shash FROM hsh h JOIN freq f ON h.shash = f.shash
        WHERE f.df <= {MAX_SHINGLE_DF}),
cnt AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1, count(*) AS intersection
  FROM idx a JOIN idx b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_0, doc_id_1, intersection::BIGINT AS intersection,
       ca.n::BIGINT AS n0, cb.n::BIGINT AS n1,
       (intersection * 1.0 / least(ca.n, cb.n)) AS containment
FROM pairs
JOIN cnt ca ON ca.doc_id = pairs.doc_id_0
JOIN cnt cb ON cb.doc_id = pairs.doc_id_1
WHERE intersection * 1.0 / least(ca.n, cb.n) >= {CONTAINMENT_THR}
  AND intersection * 1.0 / (ca.n + cb.n - intersection) < 0.5
"""


def shingle_containment(docs: DataFrame,
                        thr: float = CONTAINMENT_THR) -> DataFrame:
    """(doc_id_0, doc_id_1, intersection, n0, n1, containment):
    asymmetric near-dup pairs with containment >= thr that Jaccard
    (q31's >= 0.5 rule) does NOT flag."""
    base = hashed_shingle_table(docs).cache()
    freq = base.groupBy("shash").agg(F.count(F.lit(1)).alias("df"))
    hot = freq.filter(F.col("df") > MAX_SHINGLE_DF).select("shash")
    sh = base.join(F.broadcast(hot), "shash", "left_anti").cache()
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shash") == F.col("b.shash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_0"),
                 F.col("b.doc_id").alias("doc_id_1"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_0"), F.col("n").alias("n0"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n1"))
    cont = F.col("intersection") * F.lit(1.0) / F.least("n0", "n1")
    jac = F.col("intersection") / (
        F.col("n0") + F.col("n1") - F.col("intersection"))
    # doc-cardinality count-join: no broadcast hint (see q31)
    return (
        pairs.join(ca, "doc_id_0")
        .join(cb, "doc_id_1")
        .filter((cont >= thr) & (jac < 0.5))
        .select("doc_id_0", "doc_id_1",
                F.col("intersection").cast("long").alias("intersection"),
                F.col("n0").cast("long").alias("n0"),
                F.col("n1").cast("long").alias("n1"),
                cont.alias("containment"))
    )


@register("r17_shingle_containment", _R17_ORACLE, tags=("dedup",))
def r17_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups invisible to symmetric Jaccard.

    The corpus is augmented with planted snippet docs (first 15 tokens
    of every 13th long doc under doc_id + 1000000) so the containment
    class is non-empty: the testdata has no natural containment-only
    pairs (max 0.27 at sf0.01), and both engines derive the same plant.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), " "), lambda w: w != "")
    snip = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            toks.alias("ts"),
        )
        .filter(F.size("ts") >= 40)
        .select("doc_id", F.array_join(F.slice("ts", 1, 15), " ").alias("text"))
    )
    docs2 = docs.select("doc_id", "text").unionAll(snip)
    return shingle_containment(docs2)


# ---------------------------------------------------------------------------
# x79: PageRank over the near-duplicate graph — rank documents by how
# central they are in the duplication structure.  The q71 components
# say WHICH docs belong together; PageRank says which doc is the HUB
# (the template everything else derives from) — the right "keep" pick
# for a canonicalization pass, and the repo's representative of the
# iterative-dataflow family beyond the q71 star-contraction fixpoint.
#
# Scale: per iteration, ONE equi-join (edges ⨝ ranks on src, shuffle
# keyed on the node id — the partitioning Catalyst reuses across
# iterations) and ONE map-combined groupBy(dst); dangling mass is a
# scalar aggregate folded into the teleport term.  localCheckpoint
# every iteration truncates the growing lineage (the q71 lesson —
# 4^rounds plan growth OOMs Catalyst analysis, not the executors).
# Float sums across neighbors make this rows-only by nature; the test
# cross-checks a known graph against a numpy power iteration at 1e-9.
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 10

# Hybrid-execution gate for the iterative graph family (round-9
# optimization): once the DEDUPLICATED edge count is known, graphs at or
# under this many edges run their exact algorithm on the driver in one
# pass — the same AQE-style size-gated decision neardup_components has
# always made (its driver_threshold), extended to BFS/PageRank/k-core/
# LPA/triangles.  Near-dup GRAPHS are tiny relative to the corpus at
# every scale (pairs are a curated fraction of docs), and each
# distributed round costs a fixed number of jobs that dominates wall
# time when the data is a few MB.  Above the gate the distributed
# loops run unchanged — the 100 TB path is untouched.
GRAPH_DRIVER_EDGES = 200_000


def _truncate(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Lineage truncation for iterative graph loops.

    Default: ``localCheckpoint(eager=True)`` — fast, but executor-local,
    so a lost executor kills a long run.  With ``checkpoint_dir`` set the
    frame is reliably ``checkpoint()``-ed to that directory (HDFS/S3 on a
    real cluster) at the SAME cadence — the fault-tolerant mode for runs
    expected to go past ~p50 iterations (verdict r5 item 6).  Both modes
    produce bit-identical results (tested); only recovery behavior
    differs."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _truncate_counted(df: DataFrame,
                      checkpoint_dir: str | None = None) -> tuple:
    """``(frame, n_rows)``: ``_truncate(df)`` plus its row count, observed
    by the job that materializes it (``DataFrame.observe``), so a size
    gate reads the count without running a ``count()`` job of its own."""
    obs = Observation()
    out = _truncate(
        df.observe(obs, F.count(F.lit(1)).alias("n")), checkpoint_dir)
    return out, obs.get["n"]


def _pagerank_driver(edge_list: list, damping: float, iters: int,
                     tol: float) -> tuple:
    """Driver-side mirror of the distributed PageRank loop (same init,
    same update, same every-other-iteration L1-delta early exit), for
    graphs under GRAPH_DRIVER_EDGES.  float64 arithmetic end to end."""
    import numpy as np

    nodes = sorted({v for e in edge_list for v in e})
    if not nodes:
        return [], 0
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.fromiter(
        (idx[a] for a, b in edge_list for _ in (0,)), dtype=np.int64,
        count=len(edge_list))
    dst = np.fromiter(
        (idx[b] for a, b in edge_list for _ in (0,)), dtype=np.int64,
        count=len(edge_list))
    # undirected: both directions
    src, dst = (np.concatenate([src, dst]), np.concatenate([dst, src]))
    deg = np.bincount(src, minlength=n).astype(np.float64)
    ranks = np.full(n, 1.0 / n)
    prev_cp = None
    n_iters = iters
    for i in range(iters):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, ranks[src] / deg[src])
        ranks = (1.0 - damping) / n + damping * contrib
        if i % 2 == 1 or i == iters - 1:
            if prev_cp is not None:
                if float(np.abs(ranks - prev_cp).sum()) < tol:
                    n_iters = i + 1
                    break
            prev_cp = ranks
    return [(v, float(ranks[idx[v]])) for v in nodes], n_iters


def pagerank(edges: DataFrame, damping: float = PR_DAMPING,
             iters: int = PR_ITERS, tol: float = 1e-6,
             checkpoint_dir: str | None = None) -> DataFrame:
    """(node, rank): PageRank over an undirected edge list (a, b) —
    each undirected edge becomes two directed edges.  Ranks sum to 1."""
    ranks, _ = pagerank_with_stats(edges, damping=damping, iters=iters,
                                   tol=tol, checkpoint_dir=checkpoint_dir)
    return ranks


def pagerank_with_stats(edges: DataFrame, damping: float = PR_DAMPING,
                        iters: int = PR_ITERS,
                        tol: float = 1e-6,
                        checkpoint_dir: str | None = None) -> tuple:
    """PageRank with a convergence early-exit; returns ``(ranks, n_iters)``.

    Convergence is checked on the existing every-other-iteration
    checkpoint cadence: when the TOTAL L1 rank delta between consecutive
    checkpoints drops below ``tol`` the loop stops — the check is one
    equi-join + one agg on the |nodes|-cardinality table, piggybacking
    the lineage truncation that iteration already pays for.  ``iters``
    stays the hard cap so a pathological graph can't spin.

    ``checkpoint_dir``: see ``_truncate`` — reliable ``checkpoint()``
    instead of executor-local ``localCheckpoint`` for fault tolerance on
    long cluster runs; identical results either way."""
    ckpt = checkpoint_dir
    # materialize the edge list ONCE, before symmetrizing — the union
    # references its input twice, so symmetrizing the raw lineage would
    # evaluate the upstream pair computation (for the registered q31
    # graph, the whole shingle self-join) TWICE in one checkpoint job
    ed, n_edges = _truncate_counted(edges.select("a", "b"), ckpt)
    if n_edges <= GRAPH_DRIVER_EDGES:
        ranks_rows, n_iters = _pagerank_driver(
            [(int(r[0]), int(r[1])) for r in ed.collect()],
            damping=damping, iters=iters, tol=tol)
        return (local_frame(edges.sparkSession, ranks_rows,
                            "node long, rank double"), n_iters)
    directed = _truncate(
        ed.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(ed.select(F.col("b").alias("src"),
                               F.col("a").alias("dst"))), ckpt)
    nodes, n = _truncate_counted(
        directed.select(F.col("src").alias("node")).distinct(), ckpt)
    if n == 0:
        return (local_frame(
            edges.sparkSession, [], "node long, rank double"), 0)
    deg = _truncate(
        directed.groupBy("src").agg(
            F.count(F.lit(1)).cast("double").alias("deg")), ckpt)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    prev_cp = None
    n_iters = iters
    for i in range(iters):
        contribs = (
            directed.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("s"))
        )
        # undirected graph: no dangling nodes (every node has degree >= 1),
        # so the teleport term is exactly (1 - d)/n
        ranks = nodes.join(
            contribs.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (F.lit((1.0 - damping) / n)
             + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)))
            .alias("rank"),
        )
        # lineage grows LINEARLY here (unlike q71's 4^rounds star plans),
        # so truncate every other iteration — halves the eager jobs
        if i % 2 == 1 or i == iters - 1:
            ranks = _truncate(ranks, ckpt)
            if prev_cp is not None:
                delta = ranks.join(
                    prev_cp.withColumnRenamed("rank", "prev"), "node"
                ).agg(F.sum(F.abs(F.col("rank") - F.col("prev")))
                      ).collect()[0][0]
                if delta is not None and delta < tol:
                    n_iters = i + 1
                    break
            prev_cp = ranks
    return ranks, n_iters


@register("x79_dupgraph_pagerank", None, tags=("dedup", "graph", "rows-only"))
def x79_dupgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the q31 near-dup pair graph: top-20 hub documents.

    Iterative float dataflow — rows-only; numpy power-iteration parity
    asserted in tests."""
    pairs = q31_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_0").alias("a"), F.col("doc_id_1").alias("b"))
    pr = pagerank(pairs)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        pr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("node", F.round("rank", 6).alias("rank"),
                F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# r39: duplicate-cluster size distribution — the histogram of q71's
# component sizes, plus the corpus-level dedup headline (docs in
# clusters, docs removed if one survivor per cluster is kept).  The
# number a curation report leads with, and the input to the "is one
# template dominating the crawl?" check: a single giant component is a
# boilerplate/SEO-farm signature, many pairs is organic duplication.
#
# Scale: rides q71's star-contraction output (component ids); sizes are
# ONE map-combined groupBy(component), the histogram a second groupBy
# over the |components|-sized table — distinct sizes are ~dozens at any
# corpus size.  All integer-exact.
# ---------------------------------------------------------------------------

_R39_ORACLE = f"""
{_REACH_CTES},
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
), sizes AS (
  SELECT component, count(*)::BIGINT AS size FROM comp GROUP BY component
)
SELECT size,
       count(*)::BIGINT AS n_clusters,
       (size * count(*))::BIGINT AS n_docs,
       ((size - 1) * count(*))::BIGINT AS n_removable
FROM sizes GROUP BY size
"""


def component_size_histogram(components: DataFrame) -> DataFrame:
    """(size, n_clusters, n_docs, n_removable) from a (doc_id, component)
    assignment — n_removable assumes one survivor per cluster."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1))).cast("long")
        .alias("n_removable"),
    )


@register("r39_cluster_sizes", _R39_ORACLE, tags=("dedup",))
def r39_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution + removable-doc headline.
    """
    comps = neardup_components(q31_ngram_jaccard(spark, sf_dir)).select(
        "doc_id", "component")
    return component_size_histogram(comps)


# ---------------------------------------------------------------------------
# r43: triangle census of the near-dup graph — the structure audit that
# separates boilerplate webs (dense, high clustering: template families
# all pairwise-similar) from chain-shaped drift (low clustering: A~B~C
# where A and C differ).  Complements r39's size histogram: same size-3
# cluster is a very different curation story as a triangle vs a path.
#
# Spark-first shape: DEGREE ORIENTATION — each undirected edge points
# from its (degree, id)-smaller endpoint, so every node's out-degree is
# O(sqrt(m)) and the wedge self-join is O(m^1.5) worst-case (Suri &
# Vassilvitskii's MR triangle bound) instead of sum(deg^2), which a hub
# node would blow up.  Each triangle then has exactly ONE apex with two
# out-edges and is counted once by wedge + closing-edge equi-join.  All
# joins are equi-joins on node ids; the three 1-row aggregates combine
# via broadcast NLJ, not CartesianProduct.  All-integer until the final
# clustering ratio.
# ---------------------------------------------------------------------------

_R43_ORACLE = f"""
{_PAIRS_CTES},
sym AS (SELECT d0 AS u, d1 AS v FROM nd UNION ALL SELECT d1, d0 FROM nd),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
orient AS (
  SELECT s.u, s.v FROM sym s
  JOIN deg a ON a.u = s.u JOIN deg b ON b.u = s.v
  WHERE a.deg < b.deg OR (a.deg = b.deg AND s.u < s.v)
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM orient e1
  JOIN orient e2 ON e1.u = e2.u AND e1.v <> e2.v
  JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v
),
wn AS (SELECT count(*)::BIGINT AS n_nodes,
              coalesce(CAST(sum(deg * (deg - 1) / 2) AS BIGINT), 0)
                AS n_wedges
       FROM deg),
ec AS (SELECT count(*)::BIGINT AS n_edges FROM nd)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges = 0 THEN 0.0
            ELSE 3.0 * n_triangles / n_wedges END AS global_clustering
FROM wn CROSS JOIN ec CROSS JOIN tri
"""


def triangle_census(pairs: DataFrame) -> DataFrame:
    """(n_nodes, n_edges, n_wedges, n_triangles, global_clustering) of an
    undirected graph given as distinct (a, b) pairs with a != b."""
    # materialize the edge list ONCE — the census reads it from ~6 plan
    # branches (sym x2, deg, orientation, both wedge sides, closing), and
    # without this each branch re-derives the upstream pair computation
    # (for the registered q31 graph, the whole shingle self-join)
    pairs, n_pairs = _truncate_counted(pairs)
    if n_pairs <= GRAPH_DRIVER_EDGES:
        # driver census (see GRAPH_DRIVER_EDGES): same degree
        # orientation, same integer wedge/triangle counts, same one
        # float division at the edge — bit-identical to the join plan
        edge_list = [(int(r[0]), int(r[1])) for r in pairs.collect()]
        deg: dict[int, int] = {}
        for a, b in edge_list:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        out_n: dict[int, set] = {}
        for a, b in edge_list:
            u, v = ((a, b) if (deg[a], a) < (deg[b], b) else (b, a))
            out_n.setdefault(u, set()).add(v)
        tri = 0
        for u, su in out_n.items():
            for v1 in su:
                sv = out_n.get(v1)
                if sv:
                    tri += len(su & sv)
        n_nodes = len(deg)
        n_edges = len(edge_list)
        n_wedges = sum(d * (d - 1) // 2 for d in deg.values())
        clustering = (0.0 if n_wedges == 0
                      else (3.0 * tri) / n_wedges)
        return local_frame(
            pairs.sparkSession,
            [(n_nodes, n_edges, n_wedges, tri, clustering)],
            "n_nodes long, n_edges long, n_wedges long, "
            "n_triangles long, global_clustering double")
    sym = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionByName(pairs.select(F.col("b").alias("u"),
                                  F.col("a").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    du = deg.select(F.col("u").alias("su"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("sv"), F.col("deg").alias("dv"))
    oriented = (
        sym.join(du, sym.u == du.su).join(dv, sym.v == dv.sv)
        .filter((F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
        .select("u", "v")
    )
    e1 = oriented.select("u", F.col("v").alias("v1"))
    e2 = oriented.select("u", F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") != F.col("v2"))
    closing = oriented.select(F.col("u").alias("v1"),
                              F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"))
    wn = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0))
        .cast("long").alias("n_wedges"))
    ec = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return wn.crossJoin(F.broadcast(ec)).crossJoin(F.broadcast(tri)).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"))
        .alias("global_clustering"),
    )


@register("r43_dupgraph_triangles", _R43_ORACLE, tags=("dedup", "graph"))
def r43_dupgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the q31 near-dup pair graph (degree-oriented
    wedge join — exact, one row out)."""
    pairs = q31_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_0").alias("a"), F.col("doc_id_1").alias("b"))
    return triangle_census(pairs)


# ---------------------------------------------------------------------------
# x82: k-core of the near-dup graph — iterative peeling: drop nodes of
# degree < k, recompute, repeat to fixpoint.  The 2-core separates
# CYCLIC duplication structure (template webs that survive peeling)
# from tree-shaped chains (which peel away entirely) — with r43's
# triangle census this completes the graph audit: components (how
# many), sizes (how big), PageRank (which hubs), triangles (how
# clustered), k-core (how deeply connected).
#
# Scale: each round is ONE map-combined degree count + one semi-join
# filter on the shrinking edge set; rounds <= peel depth (tiny on real
# dup graphs); lineage truncated every other round like PageRank.
# Iterative relational fixpoint — no SQL oracle by nature (rows-only);
# exact parity vs a pure-Python peel is asserted in tests.
# ---------------------------------------------------------------------------

KCORE_MAX_ROUNDS = 50

# peel-depth telemetry from the most recent kcore() call (rounds actually
# run) — read by the scale smokes; the x83/LPA per-row n_iters discipline
# without churning x82's recorded schema
KCORE_LAST_ROUNDS = 0


def kcore(edges: DataFrame, k: int = 2,
          max_rounds: int = KCORE_MAX_ROUNDS,
          checkpoint_dir: str | None = None) -> DataFrame:
    """(node, core_deg): nodes of the k-core with their degree inside
    the core. Input: undirected distinct (a, b) pairs, a != b.
    ``checkpoint_dir``: reliable checkpoint() instead of localCheckpoint
    (see ``_truncate``)."""
    global KCORE_LAST_ROUNDS
    KCORE_LAST_ROUNDS = 0
    cur, n_edges = _truncate_counted(edges.select("a", "b"), checkpoint_dir)
    if n_edges <= GRAPH_DRIVER_EDGES:
        # driver peel (exact mirror of the distributed round structure,
        # incl. the fixpoint stop and KCORE_LAST_ROUNDS telemetry) — see
        # GRAPH_DRIVER_EDGES
        cur_e = [(int(r[0]), int(r[1])) for r in cur.collect()]
        m_edges = len(cur_e)
        for i in range(max_rounds):
            if m_edges == 0:
                break
            deg: dict[int, int] = {}
            for a, b in cur_e:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            nxt_e = [(a, b) for a, b in cur_e
                     if deg[a] >= k and deg[b] >= k]
            KCORE_LAST_ROUNDS = i + 1
            if len(nxt_e) == m_edges:
                break
            cur_e, m_edges = nxt_e, len(nxt_e)
        if m_edges == 0:
            return local_frame(
                edges.sparkSession, [], "node long, core_deg long")
        core: dict[int, int] = {}
        for a, b in cur_e:
            core[a] = core.get(a, 0) + 1
            core[b] = core.get(b, 0) + 1
        return local_frame(edges.sparkSession, sorted(core.items()),
                           "node long, core_deg long")
    for i in range(max_rounds):
        if n_edges == 0:
            break
        sym = cur.select(F.col("a").alias("u")).unionByName(
            cur.select(F.col("b").alias("u")))
        keep = (sym.groupBy("u")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("u"))
        nxt = (cur.join(keep.withColumnRenamed("u", "a"), "a", "semi")
               .join(keep.withColumnRenamed("u", "b"), "b", "semi")
               .select("a", "b"))
        if i % 2 == 1:
            nxt, m = _truncate_counted(nxt, checkpoint_dir)
        else:
            m = nxt.count()
        KCORE_LAST_ROUNDS = i + 1
        if m == n_edges:        # fixpoint: every remaining node has deg >= k
            break
        cur, n_edges = nxt, m
    if n_edges == 0:
        return local_frame(
            edges.sparkSession, [], "node long, core_deg long")
    sym = cur.select(F.col("a").alias("node")).unionByName(
        cur.select(F.col("b").alias("node")))
    return sym.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("core_deg"))


@register("x82_dupgraph_kcore", None, tags=("dedup", "graph", "rows-only"))
def x82_dupgraph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the q31 near-dup pair graph (iterative peel —
    rows-only; pure-Python peel parity in tests)."""
    pairs = q31_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_0").alias("a"), F.col("doc_id_1").alias("b"))
    return kcore(pairs, k=2)


# ---------------------------------------------------------------------------
# x89: label-propagation communities — the resolution the component
# family lacks: q71's connected components merge two dense template
# families the moment ONE bridge pair links them, and every doc of the
# merged blob then shares a dedup fate.  LPA keeps densely-linked
# groups separate: each node takes the most frequent label among its
# neighbours (ties to the smallest label), so a single bridge edge
# cannot overrule a clique's internal majority.  Complements the graph
# audit suite: components (connectivity), sizes, PageRank (hubs),
# triangles (clustering), k-core (depth), LPA (communities).
#
# Spark-first: synchronous rounds — ONE equi-join hangs neighbour
# labels on the edge list, ONE map-combined count per (node, label),
# one windowed argmax per node; lineage truncated every other round
# like PageRank.  Fixed round budget (LPA's known oscillation guard)
# with the round count reported.  Deterministic (tie -> min label,
# synchronous updates) -> exact parity with a pure-Python reference in
# tests; rows-only in the gate (iterative fixpoint, no SQL oracle).
# ---------------------------------------------------------------------------

LPA_ROUNDS = 10


def _label_propagation_driver(edge_list: list, rounds: int) -> list:
    """Driver-side mirror of the distributed synchronous-LPA loop —
    identical update rule (majority vote, tie -> min label), identical
    every-other-round changed-count telemetry and parity-preserving
    early exit — for graphs under GRAPH_DRIVER_EDGES."""
    nbrs: dict[int, list] = {}
    for a, b in edge_list:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {v: v for v in nbrs}
    prev_check = None
    n_changed = None
    zero_streak = 0
    n_rounds = 0
    for i in range(rounds):
        new = {}
        for v, ns in nbrs.items():
            votes: dict[int, int] = {}
            for u in ns:
                lab = labels[u]
                votes[lab] = votes.get(lab, 0) + 1
            new[v] = min(votes, key=lambda c: (-votes[c], c))
        if i % 2 == 1:
            if prev_check is not None:
                n_changed = sum(
                    1 for v in new if new[v] != prev_check[v])
                zero_streak = zero_streak + 1 if n_changed == 0 else 0
            prev_check = new
        labels = new
        n_rounds = i + 1
        if zero_streak >= 2 and (rounds - 1 - i) % 2 == 0:
            break
    return [(v, labels[v], n_rounds, n_changed)
            for v in sorted(labels)]


def label_propagation(pairs: DataFrame, rounds: int = LPA_ROUNDS,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """(node, community, n_rounds, n_changed_final): synchronous LPA
    labels over undirected distinct (a, b) pairs, a != b; ties break to
    the smallest neighbour label.

    Convergence telemetry (mirrors x83 k-means' ``n_iters``): every
    other round — the existing checkpoint cadence, so the comparison
    join reads two already-materialized label tables — we count labels
    changed vs the previous checkpoint.  Two consecutive zero-change
    checks mean the label sequence is periodic with period <= 2 (the
    documented synchronous-LPA oscillation guard), so we stop early —
    but only when the rounds remaining to the budget is even, which
    keeps the returned labels bit-identical to running the full budget
    (the final round index keeps its parity).  ``n_changed_final`` is
    the changed-label count of the LAST comparison (null if the budget
    was too small for one) so a production run can see unconverged
    communities; ``n_rounds`` is the number of rounds actually run.
    """
    from pyspark.sql.window import Window as W

    edges, n_edges = _truncate_counted(pairs.select("a", "b"), checkpoint_dir)
    if n_edges <= GRAPH_DRIVER_EDGES:
        rows = _label_propagation_driver(
            [(int(r[0]), int(r[1])) for r in edges.collect()], rounds)
        return pairs.sparkSession.createDataFrame(
            rows, "node long, community long, n_rounds long, "
                  "n_changed_final long")
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("community", F.col("node")))
    w = W.partitionBy("node").orderBy(F.desc("cnt"), F.asc("community"))
    prev_check = None
    n_changed = None
    zero_streak = 0
    n_rounds = 0
    for i in range(rounds):
        nbr = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "community")
        votes = nbr.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("cnt"))
        new = (votes.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1)
               .select("node", "community"))
        if i % 2 == 1:
            new = _truncate(new, checkpoint_dir)
            if prev_check is not None:
                # node set is fixed (every node votes every round), so
                # an inner join on node covers all rows
                n_changed = (
                    new.alias("n")
                    .join(prev_check.alias("p"), "node")
                    .filter(F.col("n.community") != F.col("p.community"))
                    .count())
                zero_streak = zero_streak + 1 if n_changed == 0 else 0
            prev_check = new
        labels = new
        n_rounds = i + 1
        if zero_streak >= 2 and (rounds - 1 - i) % 2 == 0:
            break
    return labels.select(
        "node", F.col("community").cast("long").alias("community"),
        F.lit(n_rounds).cast("long").alias("n_rounds"),
        F.lit(n_changed).cast("long").alias("n_changed_final"))


@register("x89_dupgraph_communities", None,
          tags=("dedup", "graph", "rows-only"))
def x89_dupgraph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA community sizes over the q31 near-dup pair graph.

    Rows-only; pure-Python synchronous-LPA parity in
    tests/test_operators.py::test_label_propagation_matches_python."""
    pairs = q31_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_id_0").alias("a"), F.col("doc_id_1").alias("b"))
    return (
        label_propagation(pairs)
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# r66: Jaccard threshold histogram — the tuning evidence behind q31's
# 0.5 cutoff: the candidate-pair similarity distribution, bucketed by
# decile.  A curation run reads this before committing a threshold
# (a bimodal histogram says the cutoff is safe anywhere in the valley;
# mass piling against the chosen cutoff says borderline dups are being
# split arbitrarily).  Same inverted-index candidate generation as q31
# — the histogram costs ONE extra metadata-sized aggregate, nothing
# new shuffles.
# ---------------------------------------------------------------------------

_R66_ORACLE = f"""
{_PAIRS_CTES}
SELECT least(CAST(floor(i * 10.0 / (ca.n + cb.n - i)) AS BIGINT), 9)
         AS bucket,
       count(*)::BIGINT AS n_pairs,
       min(round(i * 1.0 / (ca.n + cb.n - i), 6)) AS min_jaccard,
       max(round(i * 1.0 / (ca.n + cb.n - i), 6)) AS max_jaccard
FROM pairs
JOIN cnt ca ON ca.doc_id = pairs.d0
JOIN cnt cb ON cb.doc_id = pairs.d1
GROUP BY 1
"""


@register("r66_jaccard_histogram", _R66_ORACLE, tags=("dedup", "stats"))
def r66_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair Jaccard distribution by decile bucket — the
    threshold-tuning companion to q31.
    """
    cand = candidate_pairs(spark, sf_dir)
    bucket = F.least(F.floor(F.col("jac") * 10).cast("long"), F.lit(9))
    return (
        cand.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(F.round("jac", 6)).alias("min_jaccard"),
            F.max(F.round("jac", 6)).alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# r67: MinHash calibration — the sketch-accuracy audit for the dedup
# family (x87's role for percentiles): q32's MinHash+LSH decisions
# scored against q31's exact-Jaccard ground truth at the same 0.5
# threshold.  False negatives are dups the 16-hash signature missed
# (recall cost of the linear-scale path); false positives are pairs the
# signature over-estimated; the mean |estimate - exact| on agreed pairs
# is the resolution of the 16-hash signature.  Both sides are
# deterministic md5-derived, so the whole scorecard is exactly
# oracle-able — rare for a sketch audit.
#
# Scale: ONE full-outer equi-join of two pair tables that both exist
# anyway; the scorecard is a 1-row aggregate.
# ---------------------------------------------------------------------------

_R67_ORACLE = f"""
WITH {_HSH_CTE.strip()},
freq AS (SELECT shash, count(*) AS df FROM hsh GROUP BY shash),
idx AS (SELECT h.doc_id, h.shash FROM hsh h JOIN freq f ON h.shash = f.shash
        WHERE f.df <= {MAX_SHINGLE_DF}),
cnt AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
jp AS (
  SELECT a.doc_id AS d0, b.doc_id AS d1, count(*) AS i
  FROM idx a JOIN idx b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT d0, d1, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
  FROM jp JOIN cnt ca ON ca.doc_id = d0 JOIN cnt cb ON cb.doc_id = d1
  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
),
sig AS (
  SELECT doc_id, {", ".join(f"{_sig_sql(i)} AS h{i}" for i in range(N_HASHES))}
  FROM hsh GROUP BY doc_id
),
bands AS ({" UNION ALL ".join(_band_sql(b) for b in range(N_BANDS))}),
cand AS (
  SELECT DISTINCT l.doc_id AS d0, r.doc_id AS d1
  FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
),
sketch AS (
  SELECT d0, d1, round(({" + ".join(
      f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
      for i in range(N_HASHES))}) / {N_HASHES}.0, 6) AS est
  FROM cand JOIN sig a ON a.doc_id = cand.d0
            JOIN sig b ON b.doc_id = cand.d1
  WHERE ({" + ".join(
      f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
      for i in range(N_HASHES))}) / {N_HASHES}.0 >= 0.5
),
m AS (
  SELECT e.jaccard, s.est
  FROM exact e FULL JOIN sketch s ON e.d0 = s.d0 AND e.d1 = s.d1
)
SELECT count(jaccard)::BIGINT AS n_exact,
       count(est)::BIGINT AS n_sketch,
       sum(CASE WHEN jaccard IS NOT NULL AND est IS NOT NULL
            THEN 1 ELSE 0 END)::BIGINT AS n_both,
       sum(CASE WHEN jaccard IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_false_pos,
       sum(CASE WHEN est IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_false_neg,
       round(coalesce(sum(CASE WHEN jaccard IS NOT NULL AND est IS NOT NULL
                          THEN abs(est - jaccard) END), 0), 6)
         AS total_abs_err
FROM m
"""


@register("r67_minhash_calibration", _R67_ORACLE, tags=("dedup", "stats"))
def r67_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH decisions scored against exact Jaccard at the shared
    0.5 threshold: recall/precision counts + total |estimate - exact|.
    """
    exact = q31_ngram_jaccard(spark, sf_dir)
    sketch = q32_minhash_lsh(spark, sf_dir)
    m = exact.join(
        sketch,
        (exact.doc_id_0 == sketch.doc_id_0)
        & (exact.doc_id_1 == sketch.doc_id_1),
        "full_outer",
    )
    both = exact["jaccard"].isNotNull() & sketch["minhash_sim"].isNotNull()
    return m.agg(
        F.count(exact["jaccard"]).cast("long").alias("n_exact"),
        F.count(sketch["minhash_sim"]).cast("long").alias("n_sketch"),
        F.sum(both.cast("long")).cast("long").alias("n_both"),
        F.sum(exact["jaccard"].isNull().cast("long")).cast("long")
        .alias("n_false_pos"),
        F.sum(sketch["minhash_sim"].isNull().cast("long")).cast("long")
        .alias("n_false_neg"),
        F.round(F.coalesce(F.sum(F.when(
            both, F.abs(sketch["minhash_sim"] - exact["jaccard"]))),
            F.lit(0)), 6).alias("total_abs_err"),
    )


# ---------------------------------------------------------------------------
# r68: post-curation token budget — the capstone datasheet: after dedup
# RESOLUTION (r07 keeps the best doc per near-dup cluster) and the
# leakage-safe SPLIT (q95's md5-of-component buckets), how many
# documents and training tokens actually remain, per split?  The number
# a training run is provisioned against — raw corpus size is meaningless
# once dedup and splits are in the plan.
#
# Scale: everything rides machinery that already exists (components,
# quality, split hash); the only additions are a token-count projection
# and ONE metadata-sized groupBy(split).  All-integer output.
# ---------------------------------------------------------------------------

_R68_ORACLE = f"""
{_REACH_CTES},
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
),
{_QUALITY_CTE},
resolved AS (
  SELECT d.doc_id, d.n_chars,
         CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END
           AS toks,
         coalesce(c.component, d.doc_id) AS grp,
         (CASE WHEN row_number() OVER (
              PARTITION BY coalesce(c.component, d.doc_id)
              ORDER BY q.quality DESC, d.doc_id) = 1
          THEN 1 ELSE 0 END) AS keep
  FROM documents d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
  JOIN quality q ON q.doc_id = d.doc_id
)
SELECT CASE WHEN ('0x' || substr(md5(grp::VARCHAR), 1, 8))::BIGINT % 10 < 8
              THEN 'train'
            WHEN ('0x' || substr(md5(grp::VARCHAR), 1, 8))::BIGINT % 10 < 9
              THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs,
       sum(keep)::BIGINT AS n_kept,
       (count(*) - sum(keep))::BIGINT AS n_dropped,
       sum(CASE WHEN keep = 1 THEN toks ELSE 0 END)::BIGINT
         AS n_tokens_kept,
       sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END)::BIGINT
         AS n_chars_kept
FROM resolved GROUP BY 1
"""


@register("r68_token_budget", _R68_ORACLE, tags=("dedup", "pipeline"))
def r68_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup, leakage-safe-split token budget per split — the
    datasheet a training run is provisioned against.
    """
    from bayeslite_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    res = r07_dedup_resolution(spark, sf_dir).select(
        "doc_id", "component", "keep")
    j = docs.select("doc_id", "n_chars", "text").join(res, "doc_id")
    bkt = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 8),
               16, 10).cast("bigint") % 10
    )
    split = (F.when(bkt < 8, "train").when(bkt < 9, "val")
             .otherwise("test"))
    return (
        j.select(
            split.alias("split"),
            F.col("keep"),
            token_count(F.col("text")).alias("toks"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("keep")).cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("keep") == 1, F.col("toks")).otherwise(0))
            .cast("long").alias("n_tokens_kept"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0))
            .cast("long").alias("n_chars_kept"),
        )
    )


# ---------------------------------------------------------------------------
# r77: rarity-weighted (tf-idf-style) cosine document similarity — the
# token-WEIGHTED companion to q31's set-Jaccard: two docs sharing rare
# vocabulary score high even when their boilerplate differs, which is
# what a topical-duplicate / template-family miner needs where q31's
# shingle overlap misses reworded copies.
#
# Exactness discipline (the r76/r24 recipe): no ln() anywhere — the
# rarity weight is the INTEGER 1_000_000 div df, so per-doc norms and
# pair dot products are exact BIGINT sums; cosine = num / sqrt(n0 * n1)
# is one deterministic IEEE divide+sqrt on exact integers, bit-equal
# across engines, so the >= threshold cannot flip between Spark and the
# oracle.
#
# Scale: tf is a map-combined (doc, word) count; words with df above
# MAX_WORD_DF drop from the index AND the norms (same self-consistent
# stop-token hygiene as q31 — a boilerplate token in k docs contributes
# O(k^2) candidate pairs and ~zero weight); candidate generation is the
# inverted-index equi-join on word (never all-pairs); everything
# downstream aggregates per pair.
# ---------------------------------------------------------------------------

# Token = word TRIGRAM: unigrams are Zipf-headed on any corpus with a
# bounded vocabulary (measured: every unigram's df exceeds any useful
# cap by sf0.1 — a unigram index either floods or empties), and even
# bigrams keep sum(df^2) candidate mass in the hundreds of millions at
# sf0.1 (measured 34 s).  Trigrams spread df wide (27k distinct in the
# [2,1000] band at sf0.1, sum(df^2) = 2.8M — 100x cheaper) while
# KEEPING the rarity signal; the standard q31 df cap bounds the join.
MAX_WORD_DF = MAX_SHINGLE_DF  # stop-token cap, q31's rationale
_R77_SCALE = 1_000_000        # integer rarity-weight scale
_R77_MIN_COS = 0.8

_R77_ORACLE = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), toks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2]))
           AS word
  FROM w
), tf AS (
  SELECT doc_id, word, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1
), wq AS (
  SELECT word, ({_R77_SCALE} // df)::BIGINT AS w
  FROM df WHERE df <= {MAX_WORD_DF}
), idx AS (
  SELECT tf.doc_id, tf.word, tf.tf, wq.w FROM tf JOIN wq USING (word)
), norm2 AS (
  SELECT doc_id, sum(tf * tf * w)::BIGINT AS n2 FROM idx GROUP BY 1
), num AS (
  SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1,
         sum(a.tf * b.tf * a.w)::BIGINT AS num
  FROM idx a JOIN idx b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_0, doc_id_1,
       num * 1.0 / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
FROM num
JOIN norm2 na ON na.doc_id = num.doc_id_0
JOIN norm2 nb ON nb.doc_id = num.doc_id_1
WHERE num * 1.0 / (sqrt(na.n2) * sqrt(nb.n2)) >= {_R77_MIN_COS}
"""


def tfidf_cosine_pairs(docs: DataFrame, min_cos: float = _R77_MIN_COS,
                       max_df: int = MAX_WORD_DF) -> DataFrame:
    """(doc_id_0, doc_id_1, cosine): rarity-weighted cosine over word
    counts for every doc pair sharing >= 1 sub-cap word, thresholded."""
    ws = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    trigrams = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - 2, F.lit(0))),
        lambda w, i: F.concat(w, F.lit("_"), F.element_at(ws, i + 2),
                              F.lit("_"), F.element_at(ws, i + 3)))
    tf = (
        docs.select("doc_id", F.explode(trigrams).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # cache: feeds df, norms, and both join sides of candidate generation
    idx = tf.cache()
    wq = (idx.groupBy("word")
          .agg(F.count(F.lit(1)).cast("long").alias("df"))
          .filter(F.col("df") <= max_df)
          .select("word", F.expr(f"{_R77_SCALE} div df").cast("long")
                  .alias("w")))
    weighted = idx.join(wq, "word").localCheckpoint(eager=True)
    norm2 = weighted.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf") * F.col("w")).cast("long")
        .alias("n2"))
    a = weighted.select(F.col("doc_id").alias("doc_id_0"), "word",
                        F.col("tf").alias("tf0"), "w")
    b = weighted.select(F.col("doc_id").alias("doc_id_1"), "word",
                        F.col("tf").alias("tf1"))
    num = (
        a.join(b, "word")
        .filter(F.col("doc_id_0") < F.col("doc_id_1"))
        .groupBy("doc_id_0", "doc_id_1")
        .agg(F.sum(F.col("tf0") * F.col("tf1") * F.col("w")).cast("long")
             .alias("num"))
    )
    # sqrt EACH norm before multiplying: n2 stays < 2^53 (exact as a
    # double) while n2a*n2b would overflow BIGINT on Spark and detour
    # through HUGEINT on DuckDB — two different rounding paths. Two
    # exact int->double conversions + sqrt + multiply + divide is the
    # same deterministic IEEE DAG on both engines (the r76 recipe).
    cos = F.col("num") / (F.sqrt(F.col("na.n2").cast("double"))
                          * F.sqrt(F.col("nb.n2").cast("double")))
    return (
        num.join(norm2.alias("na"),
                 F.col("doc_id_0") == F.col("na.doc_id"))
        .join(norm2.alias("nb"), F.col("doc_id_1") == F.col("nb.doc_id"))
        .select("doc_id_0", "doc_id_1", cos.alias("cosine"))
        .filter(F.col("cosine") >= min_cos)
    )


@register("r77_tfidf_cosine", _R77_ORACLE, tags=("dedup", "similarity"))
def r77_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted cosine near-dup pairs over the documents table —
    integer-exact weights, inverted-index candidates, no ln, no
    all-pairs."""
    from bayeslite_spark.workload import fan_out

    return tfidf_cosine_pairs(fan_out(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# r89: BFS distance histogram over the near-dup graph — how FAR apart
# members of the same duplicate neighbourhood sit (distance 1 = direct
# near-dups; distance 3+ = chained paraphrase drift that q71 merges and
# x89's LPA may split).  The rare graph operator with a FULL SQL oracle:
# DuckDB computes exact shortest-path distances with a recursive CTE
# min-fold; row/hash equality proves the distributed frontier expansion
# exact, not just plausible.
#
# Spark-first: level-synchronous BFS from every component-minimum seed
# simultaneously (one frontier table keyed (node, seed-component)): per
# round ONE equi-join of the frontier against the symmetric edge list +
# ONE anti-join against the visited set, lineage truncated on the
# shared _truncate cadence.  Rounds <= graph diameter (the x100 graph
# smoke measured peel/round depths flat at 2-6 on density-constant dup
# graphs).  No per-pair materialization anywhere.
# ---------------------------------------------------------------------------

BFS_MAX_DEPTH = 12

_R89_ORACLE = f"""{_PAIRS_CTES},
edges AS (SELECT d0 AS src, d1 AS dst FROM nd UNION SELECT d1, d0 FROM nd),
seeds AS (
  -- every component's minimum node, found by the same min-label
  -- fixpoint the components oracle uses
  SELECT dst AS node, min(src) AS seed FROM (
    WITH RECURSIVE walk(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ) SELECT src, dst FROM walk UNION SELECT src, src FROM edges
  ) GROUP BY 1
), dist AS (
  SELECT node AS seed, node, 0 AS d FROM seeds WHERE node = seed
  UNION ALL
  SELECT p.seed, e.dst, p.d + 1
  FROM dist p JOIN edges e ON e.src = p.node
  WHERE p.d < {BFS_MAX_DEPTH}
), best AS (
  SELECT seed, node, min(d) AS d FROM dist GROUP BY 1, 2
)
SELECT d::BIGINT AS distance, count(*)::BIGINT AS n_nodes
FROM best GROUP BY 1
"""


def bfs_distances(pairs: DataFrame, max_depth: int = BFS_MAX_DEPTH,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """(distance, n_nodes): shortest-path distance histogram from each
    connected component's minimum node over undirected (doc_id_0,
    doc_id_1) pairs."""
    # materialize the pair plan ONCE: it feeds the component pass AND
    # the edge list (for the registered q31 graph the upstream is the
    # whole shingle self-join — recomputing it doubled r89's bench time)
    pairs = _truncate(pairs.select("doc_id_0", "doc_id_1"), checkpoint_dir)
    edges, n_edges = _truncate_counted(
        pairs.select(F.col("doc_id_0").alias("a"),
                     F.col("doc_id_1").alias("b")).distinct(),
        checkpoint_dir)
    if n_edges <= GRAPH_DRIVER_EDGES:
        # driver BFS (exact mirror: min-node seed per component,
        # level-synchronous expansion capped at max_depth) — integer
        # histogram, bit-identical to the distributed frontier loop
        from collections import deque

        nbrs: dict[int, list] = {}
        for r in edges.collect():
            a, b = int(r[0]), int(r[1])
            nbrs.setdefault(a, []).append(b)
            nbrs.setdefault(b, []).append(a)
        hist: dict[int, int] = {}
        seen: set[int] = set()
        for start in sorted(nbrs):
            if start in seen:
                continue
            # component membership, then BFS from its min node
            comp_nodes = {start}
            dq = deque([start])
            while dq:
                u = dq.popleft()
                for v in nbrs[u]:
                    if v not in comp_nodes:
                        comp_nodes.add(v)
                        dq.append(v)
            seen |= comp_nodes
            seed = min(comp_nodes)
            dist = {seed: 0}
            frontier = [seed]
            for depth in range(1, max_depth + 1):
                nxt = []
                for u in frontier:
                    for v in nbrs[u]:
                        if v not in dist:
                            dist[v] = depth
                            nxt.append(v)
                if not nxt:
                    break
                frontier = nxt
            for d in dist.values():
                hist[d] = hist.get(d, 0) + 1
        return local_frame(pairs.sparkSession, sorted(hist.items()),
                           "distance long, n_nodes long")
    comp = neardup_components(pairs).select(
        F.col("doc_id").alias("node"), F.col("component").alias("seed"))
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    frontier = (comp.filter(F.col("node") == F.col("seed"))
                .select("node", "seed")
                .withColumn("d", F.lit(0)))
    visited = frontier
    for depth in range(1, max_depth + 1):
        nxt = (frontier.join(sym.withColumnRenamed("a", "node"), "node")
               .select(F.col("b").alias("node"), "seed")
               .distinct()
               .join(visited.select("node", "seed"),
                     ["node", "seed"], "anti")
               .withColumn("d", F.lit(depth)))
        if depth % 2 == 0:
            nxt = _truncate(nxt, checkpoint_dir)
        if nxt.limit(1).count() == 0:
            break
        visited = _truncate(visited.unionByName(nxt), checkpoint_dir)
        frontier = nxt
    return (visited.groupBy(F.col("d").cast("long").alias("distance"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))


@register("r89_dupgraph_distances", _R89_ORACLE, tags=("dedup", "graph"))
def r89_dupgraph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BFS distance histogram over the q31 near-dup graph,
    hash-matched against a recursive-CTE shortest-path oracle."""
    return bfs_distances(q31_ngram_jaccard(spark, sf_dir).select(
        "doc_id_0", "doc_id_1"))


# ---------------------------------------------------------------------------
# r111: prefix-filtered set-similarity join (PPJoin-lite) — exact
# 3-word-SHINGLE-set Jaccard >= 1/2 pairs (q31's similarity, an
# algorithmically stronger candidate generator), with candidates by
# PREFIX FILTERING instead of the full inverted index: order every
# document's distinct shingles by ascending global frequency (rarest
# first; ties lexical) and index only the first
# p = |d| - ceil(t*|d|) + 1  shingles.
# The prefix-filter theorem guarantees any pair with J >= t shares a
# prefix token under a COMMON total order, so the candidate set is
# complete while each document posts p << |d| index entries — the
# provable candidate bound q31's stop-shingle cap approximates
# heuristically.
#
# Exactness: the threshold test is pure integers (t = num/den:
# den*inter >= num*union); jaccard is one exact rational division.
# Scale: the frequency table is vocab-sized map-combined; per-doc
# ordering is one array_sort inside codegen; candidates equi-join on
# prefix tokens only; verification joins the two token ARRAYS once per
# candidate and intersects JVM-side.  Completeness + strictly-smaller-
# candidate-set both unit-tested against the full inverted index.
# ---------------------------------------------------------------------------

_R111_T_NUM, _R111_T_DEN = 1, 2

_R111_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w0
  FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w0) - 1),
           i -> w0[i] || ' ' || w0[i + 1] || ' ' || w0[i + 2])) AS ws
  FROM toks WHERE len(w0) >= 3
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM s
), cand AS (
  SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1,
         count(*)::BIGINT AS inter
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(ws)::BIGINT AS n FROM s
)
SELECT doc_id_0, doc_id_1, inter,
       (sa.n + sb.n - inter)::BIGINT AS uni,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM cand
JOIN sz sa ON sa.doc_id = doc_id_0
JOIN sz sb ON sb.doc_id = doc_id_1
WHERE {_R111_T_DEN} * inter >= {_R111_T_NUM} * (sa.n + sb.n - inter)
ORDER BY doc_id_0, doc_id_1
"""


def prefix_jaccard_pairs(docs: DataFrame, t_num: int = _R111_T_NUM,
                         t_den: int = _R111_T_DEN,
                         prefix_only: bool = True) -> DataFrame:
    """(doc_id_0, doc_id_1, inter, uni, jaccard): exact 3-shingle-set
    Jaccard >= t_num/t_den pairs via prefix-filtered candidates.

    prefix_only=False posts EVERY shingle (the full inverted index) —
    used by tests to prove the prefix candidates lose nothing."""
    w0 = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    # CASE inside the expr: sequence(1, n) DESCENDS for n < 1, so the
    # guard must be in-expression (a separate .filter can be collapsed
    # into the same projection and still evaluate the bad indices)
    shingles = F.array_distinct(F.expr(
        "CASE WHEN size(w0) < 3 THEN array() "
        "ELSE transform(sequence(1, size(w0) - 2),"
        " i -> concat(element_at(w0, i), ' ', element_at(w0, i + 1),"
        "             ' ', element_at(w0, i + 2))) END"))
    # cache: the shingle-set table feeds the frequency count, the
    # per-doc ordering, AND both verify sides — uncached it recomputes
    # the tokenize+shingle projection four times (measured 14.5 -> 4.6 s warm)
    s = (docs.select("doc_id", w0.alias("w0"))
         .filter(F.size("w0") >= 3)
         .select("doc_id", shingles.alias("ws"))
         .cache())
    tok = s.select("doc_id", F.explode("ws").alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # cache: the candidate generator self-joins the prefix postings, and
    # the self-join broadcasts one side — no ReusedExchange, so without
    # this cache the whole tok-join-freq + per-doc array_sort pipeline
    # (the most expensive stage) executes TWICE (r8 verdict item 2: the
    # r111 drift was exactly this recompute).  The table is one row per
    # document; at 100 TB it spills to disk like any MEMORY_AND_DISK
    # cache and both join sides still read it once.
    ordered = (tok.join(freq, "w")
               .groupBy("doc_id")
               .agg(F.array_sort(
                   F.collect_list(F.struct("cnt", "w"))).alias("sw"))
               .cache())
    n = F.size("sw")
    # p = n - ceil(t*n) + 1, with ceil done in integers
    p = (n - F.expr(f"({t_num} * size(sw) + {t_den} - 1) div {t_den}")
         + F.lit(1))
    take = p if prefix_only else n
    pref = ordered.select(
        "doc_id", n.alias("n"),
        F.explode(F.slice(F.expr("transform(sw, x -> x.w)"),
                          1, take)).alias("w"))
    # PPJoin length filter: J >= num/den forces
    # min(|a|,|b|) >= (num/den) * max(|a|,|b|) — prune size-incompatible
    # candidates at the posting join, before the distinct and the
    # array-intersect verify
    cand = (pref.alias("a").join(pref.alias("b"), "w")
            .filter((F.col("a.doc_id") < F.col("b.doc_id"))
                    & (F.lit(t_den) * F.least("a.n", "b.n")
                       >= F.lit(t_num) * F.greatest("a.n", "b.n")))
            .select(F.col("a.doc_id").alias("doc_id_0"),
                    F.col("b.doc_id").alias("doc_id_1"))
            .distinct())
    wa = s.select(F.col("doc_id").alias("doc_id_0"), F.col("ws").alias("wsa"))
    wb = s.select(F.col("doc_id").alias("doc_id_1"), F.col("ws").alias("wsb"))
    scored = (cand.join(wa, "doc_id_0").join(wb, "doc_id_1")
              .select("doc_id_0", "doc_id_1",
                      F.size(F.array_intersect("wsa", "wsb")).cast("long")
                      .alias("inter"),
                      (F.size("wsa") + F.size("wsb")).cast("long")
                      .alias("nab")))
    uni = F.col("nab") - F.col("inter")
    return (scored
            .filter(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * uni)
            .select("doc_id_0", "doc_id_1", "inter",
                    uni.cast("long").alias("uni"),
                    F.round(F.col("inter") / uni, 6).alias("jaccard"))
            .orderBy("doc_id_0", "doc_id_1"))


@register("r111_prefix_jaccard", _R111_ORACLE,
          tags=("dedup", "text", "pipeline"))
def r111_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact 3-shingle-set Jaccard >= 0.5 pairs."""
    from bayeslite_spark.workload import fan_out

    return prefix_jaccard_pairs(fan_out(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# r112: deletion-neighborhood fuzzy self-join (FastSS) — all supplier
# name pairs with edit distance <= 1, WITHOUT the quadratic all-pairs
# scan: index every name under its 1-deletion variants (plus itself);
# two strings at distance <= 1 provably share a variant (delete the
# edited position from whichever side carries it), so an equi-join on
# the variant key is a COMPLETE candidate generator — each name posts
# |s|+1 keys, candidates cluster only where names truly collide, and
# the exact Levenshtein verifies each candidate once.  The oracle runs
# the honest quadratic join; hash equality proves the blocking theorem
# on real data.
#
# Scale: the variant index is (total name length) rows — linear; the
# equi-join shuffles variant keys, never the corpus against itself.
# ---------------------------------------------------------------------------

_R112_ORACLE = """
SELECT a.s_suppkey AS key_0, b.s_suppkey AS key_1,
       a.s_name AS name_0, b.s_name AS name_1,
       levenshtein(a.s_name, b.s_name)::BIGINT AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
ORDER BY key_0, key_1
"""


def deletion_neighborhood_pairs(names: DataFrame, key: str = "s_suppkey",
                                col: str = "s_name") -> DataFrame:
    """(key_0, key_1, name_0, name_1, dist): all pairs at edit
    distance <= 1 via 1-deletion-variant blocking + exact verify."""
    variants = F.expr(
        "CASE WHEN length(s) = 0 THEN array(s) ELSE array_union("
        "  array(s),"
        "  transform(sequence(1, length(s)),"
        "            i -> concat(substring(s, 1, i - 1),"
        "                        substring(s, i + 1, length(s))))"
        ") END")
    idx = (names.select(F.col(key).alias("k"), F.col(col).alias("s"))
           .withColumn("v", F.explode(variants)))
    cand = (idx.alias("a").join(idx.alias("b"), "v")
            .filter(F.col("a.k") < F.col("b.k"))
            .select(F.col("a.k").alias("key_0"),
                    F.col("b.k").alias("key_1"),
                    F.col("a.s").alias("name_0"),
                    F.col("b.s").alias("name_1"))
            .distinct())
    return (cand.withColumn(
        "dist", F.levenshtein("name_0", "name_1").cast("long"))
        .filter(F.col("dist") <= 1)
        .orderBy("key_0", "key_1"))


@register("r112_fuzzy_name_pairs", _R112_ORACLE,
          tags=("dedup", "relational", "text"))
def r112_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All supplier-name pairs at edit distance <= 1, deletion-blocked."""
    return deletion_neighborhood_pairs(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))


# ---------------------------------------------------------------------------
# x104: contrastive negative sampling — for every document, K hard-ish
# negatives drawn deterministically from OUTSIDE its near-duplicate
# family: the pair generator for contrastive/embedding training, where
# a "negative" that is secretly a near-dup of the anchor poisons the
# loss.  Families come from the q71 components over q31's near-dup
# pairs (machinery this repo already trusts).
#
# Scale: the candidate draw is hash-ordered (md5(anchor, candidate))
# so it is deterministic under any partitioning; the anti-membership
# test is one broadcast-or-shuffle equi-join against the component
# table (component cardinality <= docs); ranking compiles to
# WindowGroupLimit (per-partition truncation).  To keep the candidate
# join linear, negatives are drawn from a DETERMINISTIC BUCKET of
# candidates (same md5-derived bucket as the anchor) rather than the
# full corpus — each anchor meets ~corpus/B candidates, and the
# bucket count B scales with corpus size.  Rows-only (sampling op);
# determinism + family-exclusion are unit-tested.
# ---------------------------------------------------------------------------

X104_K = 4
X104_CANDS_PER_ANCHOR = 64


def contrastive_negatives(docs: DataFrame, components: DataFrame,
                          k: int = X104_K,
                          buckets: int | None = None) -> DataFrame:
    """(anchor_id, negative_id, draw_rank): K deterministic non-family
    negatives per anchor.  components: (doc_id, component).

    buckets=None sizes the bucket count from the corpus so each anchor
    meets ~X104_CANDS_PER_ANCHOR candidates REGARDLESS of corpus size —
    candidate rows stay n*C (linear), never n^2/const (the first cut's
    fixed B=8 went quadratic within buckets at the x10 smoke).  The
    corpus count is a driver scalar (metadata, like the LM vocab size).
    """
    if buckets is None:
        n = docs.count()
        buckets = max(4, -(-n // X104_CANDS_PER_ANCHOR))
    comp = components.select("doc_id", "component")
    ids = (docs.select("doc_id")
           .join(comp, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id")).alias("fam"),
                   F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets))
                   .alias("bucket")))
    # round-10 note: the initial plan shows TWO corpus scans for this
    # self-join, but the AQE FINAL plan (plans/r10/x104_*_executed.txt)
    # proves the second side is ALREADY folded by ReusedExchange at
    # runtime; an alias-based shared-frame rewrite was built, measured
    # flat (iso 3.31 s before vs 3.43 s after), and reverted.
    a = ids.select(F.col("doc_id").alias("anchor_id"),
                   F.col("fam").alias("fam_a"), "bucket")
    b = ids.select(F.col("doc_id").alias("negative_id"),
                   F.col("fam").alias("fam_b"), "bucket")
    cand = (a.join(b, "bucket")
            .filter((F.col("fam_a") != F.col("fam_b"))
                    & (F.col("anchor_id") != F.col("negative_id"))))
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(F.concat_ws("|", F.col("anchor_id").cast("string"),
                          F.col("negative_id").cast("string"))),
        "negative_id")
    return (cand.withColumn("draw_rank",
                            F.row_number().over(w).cast("long"))
            .filter(F.col("draw_rank") <= k)
            .select("anchor_id", "negative_id", "draw_rank")
            .orderBy("anchor_id", "draw_rank"))


@register("x104_contrastive_negatives", None,
          tags=("pipeline", "dedup", "rows-only"))
def x104_contrastive_negatives(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-doc deterministic non-near-dup negative draws (summary:
    anchors, draws, min draws per anchor)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = candidate_pairs(spark, sf_dir).filter(F.col("jac") >= 0.5).select(
        "doc_id_0", "doc_id_1")
    comp = neardup_components(pairs).select("doc_id", "component")
    neg = contrastive_negatives(docs, comp)
    per = neg.groupBy("anchor_id").agg(F.count(F.lit(1)).alias("n"))
    return (per.agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.sum("n").cast("long").alias("n_draws"),
        F.min("n").cast("long").alias("min_per_anchor"),
        F.max("n").cast("long").alias("max_per_anchor")))
