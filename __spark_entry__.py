"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full interleaved-doc extraction pipeline at sf0.001.
queries()      — one entry per implemented operator from SURVEY.md §2 plus the
                 training-data-pipeline suite (dedup, ANN, text analysis).
oracle_sql()   — exactly-equivalent DuckDB SQL per query. Non-SQL-expressible
                 ops (model decode, image prepro/features) are hash-checked
                 against MATERIALIZED single-process ground truth
                 (fixtures/oracle_store.py — DuckDB reads the parquet, Spark
                 computes live and distributed). Only the two genuinely
                 approximate ANN queries stay rows-only; their recall is
                 pytest-asserted against the exact path.

Column names are aliased identically on both sides; floats rounded to 4dp and
cast to double; counts cast to bigint (DuckDB sum() yields hugeint otherwise).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from latex_ocr_spark.config import ModelConfig
from latex_ocr_spark.fixtures import oracle_store
from latex_ocr_spark.fixtures.corpus import docs_spark_sql, spans_duckdb_cte
from latex_ocr_spark.operators import dedup as D
from latex_ocr_spark.operators import similarity as S
from latex_ocr_spark.operators import text_analysis as TA
from latex_ocr_spark.operators.multimodal import image_features
from latex_ocr_spark.pipeline import explode_spans, extract_spans
from latex_ocr_spark.sources import build_corpus, read_docs, read_media

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df.createOrReplaceTempView("documents")
    return df


def _spans_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved docs derived on the fly (no materialization needed for
    span-level relational queries) then exploded to flat spans."""
    _documents(spark, sf_dir)
    return explode_spans(spark.sql(docs_spark_sql("documents")))


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.corpus_with_dups(spark, sf_dir)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


_CTE = "WITH " + spans_duckdb_cte()
_DUP_CTE = "WITH " + D.CORPUS_WITH_DUPS_CTE_DUCKDB.strip().rstrip(")") + ")"

# DuckDB word-shingle CTE chain (mirrors dedup.shingles including the
# DEFAULT_MAX_SHINGLE_FREQ doc-frequency skew cap; the shingle index comes
# from scalar range() unnest so there is no length cap to outgrow). The
# chain is parameterized on its source CTE so the planted-dups corpus
# (standalone dedup oracles) and the curated extraction output (composed
# training_pipeline oracle) share one definition.
def _shingle_chain(src: str = "corpus") -> str:
    return f""",
wordlists AS (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
sh0 AS (
  SELECT DISTINCT doc_id,
         (w[CAST(i AS INT)] || '|' || w[CAST(i AS INT)+1] || '|' || w[CAST(i AS INT)+2]) AS shingle
  FROM (SELECT doc_id, w,
               unnest(range(1, CAST(greatest(len(w) - 2, 1) AS BIGINT) + 1)) AS i
        FROM wordlists)
  WHERE (w[CAST(i AS INT)] || '|' || w[CAST(i AS INT)+1] || '|' || w[CAST(i AS INT)+2]) IS NOT NULL
),
shfreq AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) <= {D.DEFAULT_MAX_SHINGLE_FREQ}
),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN shfreq USING (shingle)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
"""


_SHINGLE_CTE = _DUP_CTE + _shingle_chain()

def _bpe_subword_sql(col: str) -> str:
    """DuckDB mirror of TA._bpe_subword_count: identical intersperse +
    rank-order merge-replace chain + MARK/WSEP count difference, built from
    the same BPE_MERGES fixture table. Line terminators beyond \\n are
    stripped first on both engines — Java regex '.' excludes \\r/\\u0085/
    \\u2028/\\u2029 while RE2 excludes only \\n, so without the shared
    normalization a CRLF document diverges."""
    m, ws = TA.BPE_MARK, TA.BPE_WSEP
    col = (
        f"regexp_replace({col}, "
        "'[\\r\\x{0085}\\x{2028}\\x{2029}]', '', 'g')"
    )
    s = f"regexp_replace(replace({col}, ' ', '{ws}'), '(.)', '\\1{m} ', 'g')"
    s = f"(' ' || {s})"
    for a, b in TA.BPE_MERGES:
        s = f"replace({s}, ' {a}{m} {b}{m}', ' {a}{b}{m}')"
    return (
        f"((length({s}) - length(replace({s}, '{m}', ''))) - "
        f"(length({s}) - length(replace({s}, '{ws}', ''))))"
    )


# Recursive transitive closure over the exact near-dup pair list (small
# planted clusters) — shared by the dedup_components oracle (keeper per node),
# the dedup_apply oracle (corpus anti-join against non-keepers), and the
# composed training_pipeline oracle (same chain over the curated corpus)
_CLOSURE_CHAIN = """,
prs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM prs
),
cnodes AS (SELECT DISTINCT a AS doc FROM cedges),
reach AS (
  SELECT doc AS src, doc AS dst FROM cnodes
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN cedges e ON r.dst = e.a
)
"""

_COMPONENTS_CTE = (
    _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + _CLOSURE_CHAIN
)


def _simhash_cte() -> str:
    """DuckDB mirror of dedup.simhash_64: md5 hex digits → bit votes → sign.
    Terms are summed in ascending bit order so no BIGINT partial sum can
    overflow (bits 0..62 sum to < 2^63; the b63 term is the only negative)."""
    vals = ",\n         ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) AS v{d}"
        for d in range(16)
    )
    votes = ",\n         ".join(
        f"sum(CASE WHEN (v{b // 4} >> {b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    simsum = "\n       + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST("
        + (str(2**b) if b < 63 else "(-9223372036854775807 - 1)")
        + f" AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(64)
    )
    return (
        _DUP_CTE
        + f""",
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
wh AS (SELECT doc_id, md5(w) AS h FROM words WHERE w <> ''),
vals AS (SELECT doc_id, {vals} FROM wh),
votes AS (SELECT doc_id, {votes} FROM vals GROUP BY doc_id),
sim AS (SELECT doc_id, ({simsum}) AS simhash FROM votes)
"""
    )


_SIMHASH_CTE = _simhash_cte()

# The sf the correctness gate compares at. oracle_sql() returns static
# strings (no sf parameter in the driver contract), so the materialized-
# oracle paths must be resolved here; SPARK_GRAFT_ORACLE_SF overrides the
# documented gate default for running the gate at another scale factor.
_CORRECTNESS_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
)

# training_pipeline gate profile: run the composition over these doc
# partitions only (of fixtures.corpus.N_PARTS=16) — the extraction scan is
# partition-pruned on the Spark side and the oracle filters doc_spans.part
# identically, so the row stays a full end-to-end check at ~1/3 the decode
# cost and fits any driver time budget.
_TP_GATE_PARTS = tuple(range(6))
_TP_GATE_PARTS_SQL = ", ".join(str(p) for p in _TP_GATE_PARTS)


def _oracle_sf001(ensure: Callable[..., str], path: Callable[..., str], **kw) -> str:
    """Absolute path of a materialized single-process oracle parquet for the
    correctness-gate scale factor, given its ``fixtures/oracle_store.py``
    ``ensure_oracle_*`` / ``oracle_*_path`` pair; ensured lazily (pure
    python, no Spark) so the DuckDB side works regardless of gate-side
    evaluation order."""
    if os.path.isdir(_CORRECTNESS_SF_DIR):
        return ensure(_CORRECTNESS_SF_DIR, **kw)
    return path(_CORRECTNESS_SF_DIR, **kw)

# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_span_explode_counts(spark, sf_dir):
    """S2: posexplode of the interleaved spans; per-kind row/doc counts."""
    return (
        _spans_df(spark, sf_dir)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_spans"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy("kind")
    )


def _q_passthrough_reassembly(spark, sf_dir):
    """K3/J3: text spans reassembled in (doc_id, offset) order must rebuild
    the source document text byte-identically."""
    spans = _spans_df(spark, sf_dir).filter(F.col("kind") == "text")
    re_df = spans.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("offset", "text"))),
                lambda s: s["text"],
            ),
        ).alias("reassembled")
    )
    src = _documents(spark, sf_dir).select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("text").alias("src_text"),
    )
    return re_df.join(src, "doc_id").select(
        "doc_id",
        (F.col("reassembled") == F.col("src_text")).cast("int").alias("matches"),
        F.length("reassembled").alias("n_chars"),
    )


def _q_media_matching_join(spark, sf_dir):
    """J1/J2: media spans equi-joined back to the source doc dimension
    (broadcast hash join — the reference's formulas-dict lookup)."""
    media = _spans_df(spark, sf_dir).filter(F.col("kind") == "media")
    dim = _documents(spark, sf_dir).select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("n_chars").alias("n_chars"),
        F.col("source").alias("source"),
    )
    return (
        media.join(F.broadcast(dim), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_media_spans"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("source")
    )


def _q_anti_join_resume(spark, sf_dir):
    """F4: left anti join of doc partitions against a completed-checkpoint set
    (parts 0–5 'done') — the resume skip."""
    spans = _spans_df(spark, sf_dir)
    done = spark.range(0, 6).select(F.col("id").cast("int").alias("part"))
    return (
        spans.select("doc_id", "part")
        .distinct()
        .join(done, "part", "left_anti")
        .groupBy("part")
        .agg(F.count("*").alias("n_docs_todo"))
        .orderBy("part")
    )


def _q_length_filter(spark, sf_dir):
    """F1: drop spans whose token-length exceeds max_len=40 (the reference's
    max-length filter applied span-wise)."""
    spans = _spans_df(spark, sf_dir).filter(F.col("kind") == "text")
    return (
        spans.withColumn("n_tok", F.size(F.split("text", " ")))
        .filter(F.col("n_tok") <= 40)
        .groupBy("part")
        .agg(F.count("*").alias("n_kept"), F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .orderBy("part")
    )


def _q_row_limit_topk(spark, sf_dir):
    """F2/T5 + sort: deterministic limit — top 10 docs by n_chars desc, doc_id asc."""
    return (
        _documents(spark, sf_dir)
        .select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _q_vocab_build(spark, sf_dir):
    """A1+F3+T1: the reference vocab build — token frequency hash aggregate,
    min-count filter (≥10), lexicographic sort
    (/root/reference/model/utils/text.py:93-115)."""
    return (
        _documents(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .orderBy("token")
    )


def _q_topk_tokens_per_lang(spark, sf_dir):
    """T2 analog: top-5 tokens per lang via window row_number (beam top-k's
    relational cousin)."""
    from pyspark.sql import Window

    tok = (
        _documents(spark, sf_dir)
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    return (
        tok.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "cnt", "rank")
    )


def _ref_hyp_pairs(spark, sf_dir):
    """The standard mutated (ref, hyp) pairs the A3/A4/A5 scores run over:
    hyp drops the first 5 words of every doc_id%10==0 document and equals
    ref elsewhere."""
    words = F.split("text", " ")
    return _documents(spark, sf_dir).select(
        F.col("text").alias("ref"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat_ws(" ", F.slice(words, 6, F.size(words))),
        )
        .otherwise(F.col("text"))
        .alias("hyp"),
    )


def _q_exact_match_score(spark, sf_dir):
    """A3: fraction of rows where ref == hyp — the reference ExactMatchScore
    aggregation."""
    from latex_ocr_spark.eval.metrics import exact_match_rate

    return exact_match_rate(_ref_hyp_pairs(spark, sf_dir))


def _q_edit_distance_score(spark, sf_dir):
    """A5: 1 - Σlevenshtein/Σmax(len) over the same ref/hyp pairs."""
    from latex_ocr_spark.eval.metrics import edit_distance_score

    return edit_distance_score(_ref_hyp_pairs(spark, sf_dir))


def _q_events_agg(spark, sf_dir):
    """A2 analog: grouped sum/avg aggregation over the events table."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
            F.round(F.avg("value"), 4).cast("double").alias("avg_value"),
        )
        .orderBy("event_type")
    )


def _q_exact_dedup(spark, sf_dir):
    return D.exact_dedup_groups(_dup_corpus(spark, sf_dir)).orderBy("text_md5")


def _q_jaccard_pairs(spark, sf_dir):
    return D.jaccard_pairs(_dup_corpus(spark, sf_dir), n=3, threshold=0.5)


def _q_minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_lsh_pairs(_dup_corpus(spark, sf_dir), n=3, threshold=0.5)


def _q_dedup_components(spark, sf_dir):
    """Duplicate-cluster keeper resolution: connected components (iterative
    min-label propagation) over the exact-verified MinHash-LSH pair graph;
    oracle = recursive-CTE transitive closure over the same pairs."""
    return D.dedup_components(
        D.minhash_lsh_pairs(_dup_corpus(spark, sf_dir), n=3, threshold=0.5)
    )


def _q_dedup_apply(spark, sf_dir):
    """Materialized deduped corpus: connected-components keeper resolution
    over the exact-verified MinHash-LSH pairs, then corpus LEFT ANTI
    non-keepers — the anti-join a training pipeline runs to emit surviving
    (doc_id, text) rows; oracle = recursive-CTE closure + NOT IN."""
    corpus = _dup_corpus(spark, sf_dir)
    return D.dedup_apply(
        corpus, D.minhash_lsh_pairs(corpus, n=3, threshold=0.5)
    )


def _q_curate_corpus(spark, sf_dir):
    """Composed curation pass over the planted-dups corpus: language gate +
    quality gate (pure expressions before the only shuffle) + near-exact
    fingerprint dedup keeping min doc_id; oracle replays the same formulas
    and keeper join in DuckDB."""
    return TA.curate_corpus(_dup_corpus(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    return D.simhash_64(_dup_corpus(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-≤7 near-dup pairs via bit-block banding equi-join."""
    return D.simhash_pairs(_dup_corpus(spark, sf_dir), max_hamming=7, n_blocks=8)


def _q_cosine_topk(spark, sf_dir):
    return S.cosine_topk(_embeddings(spark, sf_dir), k=5, n_queries=50)


def _q_lsh_cosine_topk(spark, sf_dir):
    """SRP-LSH approximate top-k, hash-checked against the materialized
    single-process replica (same planes/signatures/probes, left-fold scoring
    — fixtures/oracle_store.ensure_oracle_lsh_topk)."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_lsh_topk

    ensure_oracle_lsh_topk(sf_dir)
    return S.lsh_cosine_topk(_embeddings(spark, sf_dir), k=5, n_queries=50)


def _q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥0.99), SRP-LSH-pruned + exact-verified
    over the corpus with planted shifted copies."""
    return S.embedding_neardup_pairs(_embeddings(spark, sf_dir), threshold=0.99)


def _q_ivf_cosine_topk(spark, sf_dir):
    """IVF-bucketed approximate ANN, hash-checked against the materialized
    single-process replica (shared BLAS-free k-means + left-fold assignment
    — fixtures/oracle_store.ensure_oracle_ivf_topk); recall vs brute force
    additionally asserted in tests/test_operators.py."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_ivf_topk

    ensure_oracle_ivf_topk(sf_dir)
    return S.ivf_cosine_topk(_embeddings(spark, sf_dir), k=5, n_queries=50)


def _q_bleu_score(spark, sf_dir):
    """A4: corpus BLEU-4 as a pure relational plan (explode n-grams, clipped-
    count join, scalar expression) over the standard mutated ref/hyp pairs."""
    from latex_ocr_spark.eval.metrics import bleu4_relational

    return bleu4_relational(_ref_hyp_pairs(spark, sf_dir))


def _q_main_content_extract(spark, sf_dir):
    """North-rule main-content extraction: wrap each document in deterministic
    HTML boilerplate (head/script/nav/header/aside/footer), strip it back out
    with the regexp pipeline, and verify recovery of the original text."""
    from latex_ocr_spark.operators.text_analysis import strip_boilerplate

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        "text",
        F.concat(
            F.lit(
                '<html><head><title>Doc</title><style>p{color:red}</style>'
                "<script>var x = 1 < 2;</script></head><body>"
                '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
                "<header>Site Header</header><div id=\"main\"><p>"
            ),
            F.col("text"),
            F.lit(
                "</p></div><aside>Related links</aside>"
                "<footer>(c) 2026 Example</footer></body></html>"
            ),
        ).alias("html"),
    )
    out = strip_boilerplate(docs, "html")
    return out.select(
        "doc_id",
        "main_text",
        (F.col("main_text") == F.col("text")).cast("int").alias("matches"),
    )


# Adversarial wrapper for the DOM path: nested same-tag boilerplate
# (<header> in <header> — the non-greedy regex leaks ' header tail'), an
# unclosed <aside> (no close tag anywhere — regex can't match it at all), and
# a pure link-farm <div> (regex keeps 'Home About Contact'; the DOM
# link-density heuristic drops it). The DOM walk must recover exactly the
# document text.
_DOM_WRAP_PREFIX = (
    '<html><head><title>Doc</title>'
    '<script>if (1 < 2) { document.write("</div>"); }</script></head><body>'
    "<nav>Menu <header>Inner nested</header> trailing nav text</nav>"
    "<header>Outer <header>deep</header> header tail</header>"
    '<div class="menu"><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></div>'
    "<div><aside>Unclosed ad text</div><article><p>"
)
_DOM_WRAP_SUFFIX = "</p></article><footer>(c) 2026 Example</footer></body></html>"


def _q_main_content_extract_dom(spark, sf_dir):
    """North-rule DOM heuristics: wrap each document in markup the regex fast
    path provably mangles, extract with the tolerant DOM walk, verify exact
    recovery of the original text (oracle derives the expected output from
    the documents table directly)."""
    from latex_ocr_spark.operators.text_analysis import extract_main_content_dom

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        "text",
        F.concat(
            F.lit(_DOM_WRAP_PREFIX), F.col("text"), F.lit(_DOM_WRAP_SUFFIX)
        ).alias("html"),
    )
    out = extract_main_content_dom(docs, "html")
    return out.select(
        "doc_id",
        "main_text",
        (F.col("main_text") == F.col("text")).cast("int").alias("matches"),
    )


def _q_token_count(spark, sf_dir):
    return TA.token_count(_documents(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    return TA.quality_score(_documents(spark, sf_dir))


def _q_language_id(spark, sf_dir):
    return TA.language_id(_documents(spark, sf_dir))


def _q_quality_percentiles(spark, sf_dir):
    """Exact per-language P50/P95/P99 of n_words and stopword_ratio — the
    distribution a curation pass derives its thresholds from. DuckDB oracle
    uses quantile_cont (same p*(n-1) linear interpolation as Spark's exact
    percentile) — latex_ocr_spark/operators/text_analysis.py."""
    return TA.quality_percentiles(_documents(spark, sf_dir))


def _q_curate_percentile(spark, sf_dir):
    """Data-driven curation: language gate, then keep docs at/above the
    language's own median n_words (threshold computed FROM the corpus,
    broadcast back), then fingerprint dedup keeping min doc_id —
    latex_ocr_spark/operators/text_analysis.py."""
    return TA.curate_by_percentile(_documents(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return TA.fingerprint(_documents(spark, sf_dir))


def _q_extract_text_passthrough(spark, sf_dir):
    """The FULL extraction pipeline's text-span output (SQL-checkable half of
    the flagship query: media decode is covered by rows-only + pytest oracle)."""
    corpus = build_corpus(spark, sf_dir)
    flat = extract_spans(spark, corpus, cfg=ModelConfig.small())
    return flat.filter(F.col("kind") == "text").select(
        "doc_id", "part", "text", "offset"
    )


def _q_extract_media_decoded(spark, sf_dir):
    """Flagship media half: decoded LaTeX per media span, hash-checked against
    the materialized single-process numpy oracle (the north-star invariant:
    distributed shape-batched decode == reference-semantics oracle, span for
    span).
    The oracle parquet is ensured here so the DuckDB side can read it."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_decodes

    ensure_oracle_decodes(sf_dir, profile="small")
    corpus = build_corpus(spark, sf_dir)
    flat = extract_spans(spark, corpus, cfg=ModelConfig.small())
    return flat.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", F.col("text").alias("latex")
    )


def _q_extract_media_beam(spark, sf_dir):
    """M7 at the gate: the same media half under beam-search decoding
    (reference configs/model.json 'decoding' switch, model/components/
    beam_search.py), hash-checked against the materialized single-process
    beam oracle — distributed diverse-beam backtrack == oracle, span for
    span."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_decodes

    ensure_oracle_decodes(sf_dir, profile="small_beam")
    corpus = build_corpus(spark, sf_dir)
    flat = extract_spans(
        spark, corpus, cfg=ModelConfig.small(decoding="beam_search")
    )
    return flat.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", F.col("text").alias("latex")
    )


def _q_bucket_histogram(spark, sf_dir):
    """G1: the shape-bucket distribution the decode UDF batches by, hash-checked
    against the single-process preprocess ground truth (oracle_prepro parquet —
    distributed mapInPandas bucketing must equal the same kernels run in one
    process)."""
    from latex_ocr_spark.config import PipelineConfig
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_prepro
    from latex_ocr_spark.operators.inference import preprocess_spans

    ensure_oracle_prepro(sf_dir)

    corpus = build_corpus(spark, sf_dir)
    docs = read_docs(spark, corpus)
    spans = explode_spans(docs).filter(F.col("kind") == "media")
    media = read_media(spark, corpus).select("media_ref", "image")
    prepped = preprocess_spans(
        spans.join(media, "media_ref").select(
            "doc_id", "part", "offset", "media_ref", "image"
        ),
        PipelineConfig(),
    )
    return (
        prepped.groupBy("bucket_w", "bucket_h")
        .agg(F.count("*").alias("n_images"))
        .orderBy("bucket_w", "bucket_h")
    )


def _q_media_image_features(spark, sf_dir):
    """Multimodal: binary PNG decode + feature extraction, hash-checked
    against the single-process feature ground truth (oracle_features
    parquet)."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_features

    ensure_oracle_features(sf_dir)
    corpus = build_corpus(spark, sf_dir)
    return image_features(read_media(spark, corpus))


def _q_perplexity(spark, sf_dir):
    """A2: true masked-CE perplexity (teacher-forced gold-label scoring) over
    every rendered formula image, hash-checked against the materialized
    single-process CE replica (oracle_store.ensure_oracle_perplexity)."""
    from latex_ocr_spark.eval.perplexity import perplexity_metric
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_perplexity

    ensure_oracle_perplexity(sf_dir, profile="small")
    corpus = build_corpus(spark, sf_dir)
    return perplexity_metric(spark, corpus, cfg=ModelConfig.small())


def _q_asof_join(spark, sf_dir):
    """As-of join (events ↔ latest prior order per user) via the union+window
    pattern — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import asof_join_events_orders

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return asof_join_events_orders(ev, orders)


def _q_rollup_revenue(spark, sf_dir):
    from latex_ocr_spark.operators.relational import rollup_revenue

    return rollup_revenue(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))


def _q_cube_order_stats(spark, sf_dir):
    from latex_ocr_spark.operators.relational import cube_order_stats

    return cube_order_stats(spark.read.parquet(os.path.join(sf_dir, "orders.parquet")))


def _q_pivot_events(spark, sf_dir):
    from latex_ocr_spark.operators.relational import pivot_events

    return pivot_events(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))


def _q_tpch_q1(spark, sf_dir):
    from latex_ocr_spark.operators.relational import tpch_q1

    return tpch_q1(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))


def _tbl(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _q_tpch_q3(spark, sf_dir):
    from latex_ocr_spark.operators.relational import tpch_q3

    return tpch_q3(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q5(spark, sf_dir):
    from latex_ocr_spark.operators.relational import tpch_q5

    return tpch_q5(
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q6(spark, sf_dir):
    from latex_ocr_spark.operators.relational import tpch_q6

    return tpch_q6(_tbl(spark, sf_dir, "lineitem"))


def _q_tpch_q14(spark, sf_dir):
    """Q14 promotion effect: conditional aggregation over a broadcast part
    join — the fact table never shuffles."""
    from latex_ocr_spark.operators.relational import tpch_q14

    return tpch_q14(_tbl(spark, sf_dir, "part"), _tbl(spark, sf_dir, "lineitem"))


def _q_tpch_q18(spark, sf_dir):
    """Q18 large-volume customers: the HAVING-filtered quantity rollup is
    reused as the join input (no semi-join back into the fact table);
    customer dim broadcast — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q18

    return tpch_q18(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q7(spark, sf_dir):
    """Q7 volume shipping between two nations: both nation-keyed dim chains
    broadcast, lineitem ⋈ orders is the only key shuffle, cross-pair
    predicate post-join as the spec writes it —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q7

    return tpch_q7(
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q10(spark, sf_dir):
    """Q10 returned-item reporting: returns revenue per customer for one
    quarter, customer+nation broadcast, deterministic top-20
    (TakeOrderedAndProject) — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q10

    return tpch_q10(
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q13(spark, sf_dir):
    """Q13 customer order-count distribution: LEFT OUTER join preserving
    zero-order customers + double aggregation —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q13

    return tpch_q13(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


def _q_tpch_q15(spark, sf_dir):
    """Q15 top supplier: quarterly per-supplier revenue, max kept via 1-row
    broadcast scalar join (Q22's threshold pattern); revenue rounded before
    the comparison on both engines —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q15

    return tpch_q15(
        _tbl(spark, sf_dir, "supplier"), _tbl(spark, sf_dir, "lineitem")
    )


def _q_tpch_q19(spark, sf_dir):
    """Q19 discounted revenue: OR-of-ANDs predicate spanning both tables
    over a broadcast part dim — the fact table never shuffles —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q19

    return tpch_q19(_tbl(spark, sf_dir, "part"), _tbl(spark, sf_dir, "lineitem"))


def _q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 tf-idf terms: tf groupBy → df reusing tf's output →
    1-row broadcast N → per-doc top-k window, deterministic (tfidf DESC,
    term ASC) — latex_ocr_spark/operators/text_analysis.py."""
    return TA.tfidf_top_terms(_documents(spark, sf_dir), k=3)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the eval set is the doc_id % 97 = 3 slice
    of the corpus (planted, so the oracle mirrors it exactly); every doc is
    emitted with its count of shared distinct 5-gram shingles against the
    broadcast benchmark shingle set —
    latex_ocr_spark/operators/text_analysis.py."""
    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 3)
    return TA.decontaminate(docs, bench, n=5)


def _q_repetition_ratio(spark, sf_dir):
    """Within-doc bigram repetition (Gopher-style quality signal) — pure
    per-row expressions, zero shuffles —
    latex_ocr_spark/operators/text_analysis.py."""
    return TA.repetition_ratio(_documents(spark, sf_dir), n=2)


# language → target word budget for the sample_to_budget gate row (shared
# verbatim by the DuckDB oracle's CASE expression below)
_MIX_BUDGETS = {"en": 10000, "de": 4000, "fr": 4000, "es": 4000}


def _q_sample_to_budget(spark, sf_dir):
    """Token-budget data mixing: per-language word totals → sampling rate →
    deterministic md5-threshold keep test (fully parallel; no ordered fill)
    — latex_ocr_spark/operators/text_analysis.py."""
    return TA.sample_to_budget(_documents(spark, sf_dir), _MIX_BUDGETS)


def _q_tpch_q4(spark, sf_dir):
    """Q4 order-priority checking: correlated EXISTS decorrelated to a LEFT
    SEMI join on the returned-lines key set — the semi-join optimizer shape
    (short-circuits per key, never materializes fact multiplicity) —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q4

    return tpch_q4(_tbl(spark, sf_dir, "orders"), _tbl(spark, sf_dir, "lineitem"))


def _q_tpch_q17(spark, sf_dir):
    """Q17 small-quantity revenue: the spec's correlated scalar subquery
    decorrelated to a per-partkey window average over ONE brand-filtered scan
    (broadcast part dim) — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q17

    return tpch_q17(_tbl(spark, sf_dir, "part"), _tbl(spark, sf_dir, "lineitem"))


def _q_tpch_q22(spark, sf_dir):
    """Q22 dormant high-balance customers: scalar-subquery threshold as a
    1-row broadcast cross join + NOT EXISTS as a LEFT ANTI join (AQE-decided
    strategy) — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q22

    return tpch_q22(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


def _q_tpch_q20(spark, sf_dir):
    """Q20 potential part promotion: the spec's correlated 0.5*sum threshold
    and the derived availqty aggregate the same fact at the same grain, so
    ONE conditional aggregation over one brand-filtered scan computes both
    (broadcast part dim, supplier-grain everything after) —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q20

    return tpch_q20(
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q21(spark, sf_dir):
    """Q21 suppliers-who-kept-orders-waiting: the spec's EXISTS + NOT-EXISTS
    pair decorrelates to conditional distinct-counts over the orderkey
    window, which reuses the status-join's hash partitioning — ONE lineitem
    scan, one fact shuffle, no self-joins —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q21

    return tpch_q21(
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "orders"),
    )


def _q_tpch_q8(spark, sf_dir):
    """Q8 national market share (adapted: single-token p_type equality).
    Part dim broadcasts into lineitem FIRST (fact pruned before any
    exchange); supplier→nation broadcasts; the two key shuffles are
    lineitem⋈orders and ⋈customer (customer pre-joined to the broadcast
    region dim, ~1/5 of rows) — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q8

    return tpch_q8(
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
    )


def _q_tpch_q9(spark, sf_dir):
    """Q9 product-type profit by nation/year (adapted: no partsupp, so
    supply cost = 0.6 × p_retailprice riding the broadcast part dim).
    Profit computed map-side per fact row; the single key shuffle is
    lineitem⋈orders for the order year —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q9

    return tpch_q9(
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
    )


def _q_tpch_q12(spark, sf_dir):
    """Q12 shipping audit (adapted: no l_shipmode/commitdate/receiptdate —
    groups by l_linestatus, late = shipped >90 days after the order date).
    Ship-window filter pushed to the fact scan; one lineitem⋈orders key
    shuffle; priority split as conditional sums in one aggregation —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q12

    return tpch_q12(
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q2(spark, sf_dir):
    """Q2 minimum-cost supplier (adapted: supply cost derived from the fact
    as min(l_extendedprice/l_quantity) per (partkey, suppkey)). The spec's
    correlated MIN decorrelates to a window over partkey on the ONCE-
    aggregated derived fact; region/part dims broadcast —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q2

    return tpch_q2(
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
    )


def _q_tpch_q11(spark, sf_dir):
    """Q11 important stock (adapted: per-part value = sum(extendedprice ×
    quantity) over one nation's lineitems). Nation's suppliers broadcast
    into the fact scan; the fraction×total threshold is a 1-row broadcast
    aggregate (Q15/Q22 device) — latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q11

    return tpch_q11(
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
    )


def _q_tpch_q16(spark, sf_dir):
    """Q16 parts/supplier relationship (adapted: supply pairs = distinct
    lineitem (partkey, suppkey); supplier exclusion = s_acctbal < 0 as a
    broadcast LEFT ANTI). Count-distinct per (brand, type, size) —
    latex_ocr_spark/operators/relational.py."""
    from latex_ocr_spark.operators.relational import tpch_q16

    return tpch_q16(
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
    )


def _q_quality_weighted_sample(spark, sf_dir):
    """FineWeb-style quality-weighted downsampling: per-doc keep rate
    interpolated from bounded quality signals, deterministic md5 keep test
    — one scan, zero shuffles —
    latex_ocr_spark/operators/text_analysis.py."""
    return TA.quality_weighted_sample(_documents(spark, sf_dir))


def _q_bpe_learn(spark, sf_dir):
    """Distributed BPE merge training over the documents corpus: one
    corpus-scale shuffle to the word-frequency table, then per-merge argmax
    + expression-fold apply on the distinct-vocab table (localCheckpoint'd
    per round so lineage stays flat). Iterative → no SQL oracle (rows-only
    here); exact-verified against a pure-python BPE reference in
    tests/test_bpe_learn.py — latex_ocr_spark/operators/text_analysis.py."""
    return TA.learn_bpe_merges(_documents(spark, sf_dir), num_merges=12)


def _q_incremental_neardup(spark, sf_dir):
    """Daily incremental dedup: today's batch (the synthetic near/exact-dup
    copies, doc_id >= 1000000) checked against the historical index (the
    originals) via a cross-side MinHash band equi-join — the index is
    touched only through its (doc_id, band, bucket) signature table, the
    shape that lets a 100 TB pipeline dedup daily without an index
    self-join — latex_ocr_spark/operators/dedup.py."""
    corpus = _dup_corpus(spark, sf_dir)
    return D.incremental_neardup_pairs(
        corpus.filter(F.col("doc_id") >= 1000000),
        corpus.filter(F.col("doc_id") < 1000000),
        threshold=0.5,
    )


def _q_lm_score(spark, sf_dir):
    """CCNet-style bigram-LM fluency scoring: train add-alpha bigram model
    on the corpus (zip_with slices — zero joins for bigram extraction; one
    hash-agg shuffle for counts), score every doc's cross-entropy +
    perplexity via hint-free equi-joins (AQE broadcasts the pruned model) —
    latex_ocr_spark/operators/lm.py."""
    from latex_ocr_spark.operators.lm import lm_score

    return lm_score(_documents(spark, sf_dir), alpha=0.5)


def _q_pii_redact(spark, sf_dir):
    """PII redaction (email/IPv4/E.164 masking + per-category counts):
    pure regexp built-ins, per-row, zero shuffles. The gate input splices a
    deterministic doc_id-derived contact line into every document so the
    masking path is exercised on 100% of rows (the synthetic corpus carries
    no organic PII) — latex_ocr_spark/operators/text_analysis.py."""
    docs = _documents(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" tel +14155550"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    return TA.pii_redact(seeded)


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup over the (dup-augmented) embeddings:
    deterministic constant-K centroid argmax assignment, intra-cluster
    cosine pairs via an equi-join on cluster id (never a cross join),
    min-id survivor per near-dup neighborhood —
    latex_ocr_spark/operators/similarity.py."""
    from latex_ocr_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_embeddings(spark, sf_dir), n_clusters=8, threshold=0.99)


def _q_domain_cap(spark, sf_dir):
    """Per-domain document cap (no host dominates the mix): deterministic
    md5-rank top-N per source, computed as a two-phase window — phase 1
    prunes per (domain, input partition) so a hot domain never lands in
    one task, phase 2 ranks the bounded remainder; byte-identical to the
    naive single window — latex_ocr_spark/operators/text_analysis.py."""
    return TA.domain_cap(_documents(spark, sf_dir), max_per_domain=10)


def _q_upsample_mix(spark, sf_dir):
    """Repeat-factor data mixing (epochs > 1): floor(f) full copies plus a
    deterministic md5-threshold fractional copy, emitted per (doc_id,
    epoch) via explode(sequence) — zero shuffles, zero joins; f < 1
    degrades to sample_to_budget-style downsampling —
    latex_ocr_spark/operators/text_analysis.py."""
    return TA.upsample_mix(
        _documents(spark, sf_dir), {"en": 2.5, "zh": 1.25, "fr": 0.5}
    )


def _q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chop sequence packing: per-shard window cumsum
    assigns every doc its (shard, block, offset) — sharded so no global
    sort exists at 100 TB; parallelism = n_shards —
    latex_ocr_spark/operators/packing.py."""
    from latex_ocr_spark.operators.packing import pack_sequences

    return pack_sequences(_documents(spark, sf_dir), seq_len=256, n_shards=16)


def _q_chunk_dedup(spark, sf_dir):
    """Chunk-level exact dedup: fixed 20-word chunks, first occurrence
    (lowest doc_id, idx) wins, docs reassembled from surviving chunks —
    sub-document boilerplate removal that whole-doc dedup can't express —
    latex_ocr_spark/operators/packing.py."""
    from latex_ocr_spark.operators.packing import chunk_dedup

    return chunk_dedup(_documents(spark, sf_dir), chunk_words=20)


def _q_stratified_split(spark, sf_dir):
    """Deterministic train/val/test assignment from md5(doc_id) against
    cumulative-fraction hex boundaries — stable under repartitioning and
    appends, zero shuffles — latex_ocr_spark/operators/packing.py."""
    from latex_ocr_spark.operators.packing import stratified_split

    return stratified_split(_documents(spark, sf_dir))


def _q_running_user_totals(spark, sf_dir):
    """Arbitrary stateful streaming at the gate: drain the bounded events
    stream through applyInPandasWithState (update mode, memory sink), then
    keep each user's FINAL emission — the running count n is monotone per
    user, so max-n selects it deterministically. Matches the batch oracle
    exactly because the state carries the unrounded total (rounding happens
    only at emission)."""
    from pyspark.sql import Window

    from latex_ocr_spark.streaming import EVENTS_SCHEMA, running_user_totals

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        # events.parquet is a single FILE; FileStreamSource derives basePath
        # from a non-glob path and then requires it to be a directory, so a
        # plain file path fails. A glob (trailing *) makes the PARENT the
        # base directory and matches just this file.
        .load(os.path.join(sf_dir, "events.parquet*"))
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("__rut_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        spark.table("__rut_gate")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _q_training_pipeline(spark, sf_dir):
    """The composed end-to-end training-data pass: extraction (interleaved
    corpus → text spans + decoded media LaTeX) → per-doc reassembly into
    flat text (offset order, single space joint) → planted-dup union (same
    rule as the dedup corpus, so the dedup stages have real work) →
    curate_corpus (lang + quality gates + fingerprint dedup) → MinHash-LSH
    near-dup dedup_apply → token_count over the survivors. Every stage is
    the SAME operator the standalone gate rows check; this row proves they
    compose — see latex_ocr_spark/pipeline.py:composed_training_pipeline
    for the persist hygiene that keeps the decode subtree single-execution
    across the five downstream references.

    Gate profile: runs partitions 0-5 of 16 (partition-pruned extraction
    scan, mirrored by the oracle's ``s.part IN ...`` filter) — the full
    composition at ~⅓ the decode cost, so the row fits any driver budget."""
    from latex_ocr_spark.fixtures.oracle_store import ensure_oracle_decodes
    from latex_ocr_spark.pipeline import composed_training_pipeline

    ensure_oracle_decodes(sf_dir, profile="small")
    corpus = build_corpus(spark, sf_dir)
    return composed_training_pipeline(
        spark, corpus, cfg=ModelConfig.small(), parts=list(_TP_GATE_PARTS)
    )


def _q_streaming_dedup(spark, sf_dir):
    """Cross-batch streaming dedup at the gate: materialize the planted-dups
    corpus to one parquet file (cached per sf dir — a single file means one
    availableNow micro-batch, so first-seen is deterministically the min
    doc_id per fingerprint), drain it through the
    applyInPandasWithState dedup operator, and hash-check the admitted set
    against the batch first-seen rule — latex_ocr_spark/streaming.py."""
    from latex_ocr_spark.sources import corpus_dir
    from latex_ocr_spark.streaming import streaming_dedup

    dups_path = os.path.join(corpus_dir(sf_dir), "stream_dups")
    if not os.path.exists(os.path.join(dups_path, "_SUCCESS")):
        D.corpus_with_dups(spark, sf_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dups_path)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .format("parquet")
        .load(dups_path)
    )
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("__sdedup_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("__sdedup_gate")


def _q_windowed_event_counts(spark, sf_dir):
    """Streaming operator (batch-equivalent check): watermarked 5-minute
    tumbling window counts over events — latex_ocr_spark/streaming.py."""
    from latex_ocr_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return windowed_event_counts(ev)


def _q_sessionize(spark, sf_dir):
    """Gap-based session windows per user (session_window, gap 30 min)."""
    from latex_ocr_spark.streaming import sessionize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize(ev)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001: full interleaved extraction, exploded to a
    stable flat schema (doc_id, part, kind, text, media_ref, offset)."""
    sf_dir = "/root/testdata/sf0.001"
    corpus = build_corpus(spark, sf_dir)
    return extract_spans(spark, corpus, cfg=ModelConfig.small())


def _driver_checked_rounds() -> dict[str, int]:
    """name → latest round whose committed CORRECTNESS_r{N}.json artifact
    contains a hash-check row for it. Drives the registry rotation below;
    returns {} (→ insertion order) if no artifacts are readable."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # LEAST-RECENTLY-DRIVER-CHECKED rotation: the external driver
    # hash-checks only the first 50 registry entries per round, and the
    # registry outgrew that cap. Ordering by the round each row last
    # appeared in a committed CORRECTNESS artifact (never-checked rows
    # first — sort key -1; ties keep insertion order) guarantees every row
    # re-enters the checked window at least every other round: the ≤17 rows
    # a round leaves unchecked were all checked the round before, so the
    # union of any two consecutive artifacts covers the whole registry.
    # Self-maintaining — each new artifact reshuffles the next round's
    # order. tests/test_registry.py pins the union property.
    base = _base_queries()
    last = _driver_checked_rounds()
    return {n: base[n] for n in sorted(base, key=lambda n: last.get(n, -1))}


def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # round-7 additions (never driver-checked → rotation sorts them first)
        "incremental_neardup": _q_incremental_neardup,
        "lm_score": _q_lm_score,
        "pii_redact": _q_pii_redact,
        "semantic_dedup": _q_semantic_dedup,
        "domain_cap": _q_domain_cap,
        "upsample_mix": _q_upsample_mix,
        "tpch_q8": _q_tpch_q8,
        "tpch_q9": _q_tpch_q9,
        "tpch_q12": _q_tpch_q12,
        "tpch_q2": _q_tpch_q2,
        "tpch_q11": _q_tpch_q11,
        "tpch_q16": _q_tpch_q16,
        "bpe_learn": _q_bpe_learn,
        "quality_weighted_sample": _q_quality_weighted_sample,
        "pack_sequences": _q_pack_sequences,
        "chunk_dedup": _q_chunk_dedup,
        "stratified_split": _q_stratified_split,
        "tpch_q7": _q_tpch_q7,
        "tpch_q10": _q_tpch_q10,
        "tpch_q13": _q_tpch_q13,
        "tpch_q15": _q_tpch_q15,
        "tpch_q19": _q_tpch_q19,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "decontaminate": _q_decontaminate,
        "repetition_ratio": _q_repetition_ratio,
        "sample_to_budget": _q_sample_to_budget,
        "tpch_q20": _q_tpch_q20,
        "tpch_q21": _q_tpch_q21,
        "tpch_q22": _q_tpch_q22,
        "running_user_totals": _q_running_user_totals,
        "streaming_dedup": _q_streaming_dedup,
        "training_pipeline": _q_training_pipeline,
        "quality_percentiles": _q_quality_percentiles,
        "curate_percentile": _q_curate_percentile,
        "span_explode_counts": _q_span_explode_counts,
        "passthrough_reassembly": _q_passthrough_reassembly,
        "media_matching_join": _q_media_matching_join,
        "anti_join_resume": _q_anti_join_resume,
        "length_filter": _q_length_filter,
        "row_limit_topk": _q_row_limit_topk,
        "vocab_build": _q_vocab_build,
        "topk_tokens_per_lang": _q_topk_tokens_per_lang,
        "exact_match_score": _q_exact_match_score,
        "edit_distance_score": _q_edit_distance_score,
        "events_agg": _q_events_agg,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_pairs": _q_jaccard_pairs,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_apply": _q_dedup_apply,
        "curate_corpus": _q_curate_corpus,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "cosine_topk": _q_cosine_topk,
        "lsh_cosine_topk": _q_lsh_cosine_topk,
        "embedding_neardup": _q_embedding_neardup,
        "ivf_cosine_topk": _q_ivf_cosine_topk,
        "bleu_score": _q_bleu_score,
        "main_content_extract": _q_main_content_extract,
        "main_content_extract_dom": _q_main_content_extract_dom,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "language_id": _q_language_id,
        "fingerprint": _q_fingerprint,
        "extract_text_passthrough": _q_extract_text_passthrough,
        "extract_media_decoded": _q_extract_media_decoded,
        "extract_media_beam": _q_extract_media_beam,
        "perplexity": _q_perplexity,
        "bucket_histogram": _q_bucket_histogram,
        "media_image_features": _q_media_image_features,
        "windowed_event_counts": _q_windowed_event_counts,
        "sessionize": _q_sessionize,
        "asof_join": _q_asof_join,
        "rollup_revenue": _q_rollup_revenue,
        "cube_order_stats": _q_cube_order_stats,
        "pivot_events": _q_pivot_events,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "tpch_q6": _q_tpch_q6,
        "tpch_q14": _q_tpch_q14,
        "tpch_q4": _q_tpch_q4,
        "tpch_q17": _q_tpch_q17,
        "tpch_q18": _q_tpch_q18,
    }


def oracle_sql() -> dict[str, str]:
    markers = TA.LANG_MARKERS
    stop = TA.STOPWORDS
    decodes_pq = _oracle_sf001(
        oracle_store.ensure_oracle_decodes,
        oracle_store.oracle_decodes_path,
        profile="small",
    )
    beam_decodes_pq = _oracle_sf001(
        oracle_store.ensure_oracle_decodes,
        oracle_store.oracle_decodes_path,
        profile="small_beam",
    )
    prepro_pq = _oracle_sf001(
        oracle_store.ensure_oracle_prepro,
        oracle_store.oracle_prepro_path,
    )
    features_pq = _oracle_sf001(
        oracle_store.ensure_oracle_features,
        oracle_store.oracle_features_path,
    )
    perplexity_pq = _oracle_sf001(
        oracle_store.ensure_oracle_perplexity,
        oracle_store.oracle_perplexity_path,
        profile="small",
    )
    lsh_pq = _oracle_sf001(
        oracle_store.ensure_oracle_lsh_topk,
        oracle_store.oracle_lsh_topk_path,
    )
    ivf_pq = _oracle_sf001(
        oracle_store.ensure_oracle_ivf_topk,
        oracle_store.oracle_ivf_topk_path,
    )

    def cnt(words: list[str], col: str = "text") -> str:
        # mirrors TA._count_words: whole-token lexicon hits via list_filter,
        # exact for adjacent repeats ("w w" counts 2)
        lits = ", ".join(f"'{w}'" for w in words)
        return (
            f"CAST(len(list_filter(string_split({col}, ' '), "
            f"t -> t IN ({lits}))) AS BIGINT)"
        )

    stop_hits = cnt(stop)
    lang_scores = {lang: cnt(ws) for lang, ws in sorted(markers.items())}
    score_cols = ",\n         ".join(
        f"({expr}) AS score_{lang}" for lang, expr in lang_scores.items()
    )
    # alphabetical tie-break: later lang wins only on strictly greater score
    best_expr = f"'de'"
    best_score = f"score_de"
    for lang in ["en", "es", "fr"]:
        best_expr = f"CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best_expr} END"
        best_score = f"greatest(score_{lang}, {best_score})"

    mutate = (
        "CASE WHEN doc_id % 10 = 0 THEN "
        "array_to_string(string_split(text, ' ')[6:], ' ') ELSE text END"
    )

    # pii_redact: the SQL embeds the SAME pattern strings the Spark operator
    # uses (built from TA.PII_RULES, not retyped) — patterns live in the
    # Java-regex/RE2 common subset so both engines match identically.
    _pii_seed = (
        "WITH seeded AS (\n"
        "  SELECT doc_id,\n"
        "         text || ' contact user' || doc_id || '@example.com via 10.'\n"
        "         || (doc_id % 200) || '.0.' || (doc_id % 250)\n"
        "         || ' tel +14155550' || (doc_id % 100) AS text\n"
        "  FROM documents\n"
        ")\n"
    )
    _pii_red = "text"
    _pii_counts = []
    for _name, _pat, _token in TA.PII_RULES:
        _pii_counts.append(
            "CAST(len(regexp_extract_all(text, '" + _pat + "')) AS INT)"
            " AS n_" + _name
        )
        _pii_red = (
            "regexp_replace(" + _pii_red + ", '" + _pat + "', '"
            + _token + "', 'g')"
        )
    _pii_sql = (
        _pii_seed
        + "SELECT doc_id,\n  " + _pii_red + " AS text_redacted,\n  "
        + ",\n  ".join(_pii_counts)
        + "\nFROM seeded"
    )

    return {
        "incremental_neardup": _DUP_CTE + """,
wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
sh0 AS (
  SELECT DISTINCT doc_id,
         (w[CAST(i AS INT)] || '|' || w[CAST(i AS INT)+1] || '|'
          || w[CAST(i AS INT)+2]) AS shingle
  FROM (SELECT doc_id, w,
               unnest(range(1, CAST(greatest(len(w) - 2, 1) AS BIGINT) + 1)) AS i
        FROM wl)
  WHERE (w[CAST(i AS INT)] || '|' || w[CAST(i AS INT)+1] || '|'
         || w[CAST(i AS INT)+2]) IS NOT NULL
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh0 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS index_doc, b.doc_id AS new_doc,
         CAST(count(*) AS BIGINT) AS inter
  FROM sh0 a JOIN sh0 b ON a.shingle = b.shingle
  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
  GROUP BY 1, 2
),
jac AS (
  SELECT index_doc, new_doc,
         CAST(round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = index_doc
  JOIN sizes sb ON sb.doc_id = new_doc
)
SELECT index_doc, new_doc, jaccard FROM jac WHERE jaccard >= 0.5
""",
        "lm_score": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
model AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cb) AS cc FROM model GROUP BY w1),
voc AS (SELECT count(DISTINCT w2) AS v FROM model)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       avg(-ln((model.cb + 0.5) / (ctx.cc + 0.5 * voc.v))) AS cross_entropy,
       exp(avg(-ln((model.cb + 0.5) / (ctx.cc + 0.5 * voc.v)))) AS perplexity
FROM bg JOIN model USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
GROUP BY doc_id
""",
        "pii_redact": _pii_sql,
        "semantic_dedup": """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM emb ORDER BY vec_id LIMIT 8
),
assigned AS (
  SELECT vec_id, cid AS cluster, embedding FROM (
    SELECT e.vec_id, c.cid, e.embedding,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding, c.cvec)
                      / (sqrt(list_dot_product(e.embedding, e.embedding))
                       * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.cid ASC) AS rn
    FROM emb e CROSS JOIN cents c) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE CAST(round(list_dot_product(a.embedding, b.embedding)
        / (sqrt(list_dot_product(a.embedding, a.embedding))
         * sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS DOUBLE)
        >= 0.99
)
SELECT a.vec_id,
       CAST(a.cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
""",
        "domain_cap": """
SELECT doc_id, domain, domain_rank FROM (
  SELECT doc_id, source AS domain,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
           AS domain_rank
  FROM documents)
WHERE domain_rank <= 10
""",
        "upsample_mix": """
WITH f AS (
  SELECT doc_id, lang,
         CAST(CASE lang WHEN 'en' THEN 2.5 WHEN 'zh' THEN 1.25
                        WHEN 'fr' THEN 0.5 ELSE 0.0 END AS DOUBLE) AS fac
  FROM documents
),
c AS (
  SELECT doc_id, lang,
         CAST(floor(fac) AS INT)
         + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                < printf('%08x',
                         least(CAST(floor((fac - floor(fac)) * 4294967296.0)
                                    AS BIGINT),
                               4294967295))
                THEN 1 ELSE 0 END AS n_copies
  FROM f
)
SELECT doc_id, lang, n_copies,
       CAST(unnest(generate_series(1, n_copies)) AS INT) AS epoch
FROM c WHERE n_copies > 0
""",
        "span_explode_counts": _CTE
        + """
SELECT kind, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM doc_spans GROUP BY kind ORDER BY kind
""",
        "passthrough_reassembly": _CTE
        + """
SELECT s.doc_id,
       CAST(CASE WHEN string_agg(s.text, '' ORDER BY s."offset") = any_value(d.text)
            THEN 1 ELSE 0 END AS INT) AS matches,
       CAST(length(string_agg(s.text, '' ORDER BY s."offset")) AS BIGINT) AS n_chars
FROM doc_spans s
JOIN documents d ON s.doc_id = 'doc-' || CAST(d.doc_id AS VARCHAR)
WHERE s.kind = 'text'
GROUP BY s.doc_id
""",
        "media_matching_join": _CTE
        + """
SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_media_spans,
       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM doc_spans s
JOIN documents d ON s.doc_id = 'doc-' || CAST(d.doc_id AS VARCHAR)
WHERE s.kind = 'media'
GROUP BY d.source ORDER BY d.source
""",
        "anti_join_resume": _CTE
        + """
SELECT part, CAST(count(*) AS BIGINT) AS n_docs_todo
FROM (SELECT DISTINCT doc_id, part FROM doc_spans)
WHERE part NOT IN (0, 1, 2, 3, 4, 5)
GROUP BY part ORDER BY part
""",
        "length_filter": _CTE
        + """
SELECT part, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tok
FROM doc_spans
WHERE kind = 'text' AND len(string_split(text, ' ')) <= 40
GROUP BY part ORDER BY part
""",
        "row_limit_topk": """
SELECT doc_id, n_chars FROM documents
ORDER BY n_chars DESC, doc_id ASC LIMIT 10
""",
        "vocab_build": """
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token HAVING count(*) >= 10
ORDER BY token
""",
        "topk_tokens_per_lang": """
SELECT lang, token, cnt, rank FROM (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token ASC) AS INT) AS rank
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY lang, token
) WHERE rank <= 5
""",
        "exact_match_score": f"""
SELECT CAST(round(avg(CASE WHEN ref = hyp THEN 1.0 ELSE 0.0 END), 4) AS DOUBLE) AS exact_match
FROM (SELECT text AS ref, {mutate} AS hyp FROM documents)
""",
        "edit_distance_score": f"""
SELECT CAST(round(1.0 - CAST(sum(levenshtein(ref, hyp)) AS DOUBLE)
           / sum(greatest(length(ref), length(hyp))), 4) AS DOUBLE) AS edit_distance_score
FROM (SELECT text AS ref, {mutate} AS hyp FROM documents)
""",
        "events_agg": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
       CAST(round(avg(value), 4) AS DOUBLE) AS avg_value
FROM events GROUP BY event_type ORDER BY event_type
""",
        "exact_dedup": _DUP_CTE
        + """
SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
ORDER BY text_md5
""",
        "ngram_jaccard_pairs": _SHINGLE_CTE
        + "SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5",
        "simhash": _SIMHASH_CTE
        + "SELECT doc_id, simhash FROM sim",
        "simhash_pairs": _SIMHASH_CTE
        + """,
blocks AS (
  SELECT doc_id, simhash, CAST(k AS INT) AS block_idx,
         (simhash >> CAST(8 * k AS INT)) & 255 AS block_bits
  FROM sim CROSS JOIN range(0, 8) t(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b
    ON a.block_idx = b.block_idx AND a.block_bits = b.block_bits
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 7
""",
        "minhash_lsh_pairs": _SHINGLE_CTE
        + "SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5",
        # connected components: recursive transitive closure over the exact
        # pair list (small planted clusters), min reachable id per node —
        # mirrors dedup_components' min-label-propagation fixpoint
        "dedup_components": _COMPONENTS_CTE
        + """
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS keeper_id
FROM reach GROUP BY src
""",
        # materialized deduped corpus: closure → keeper per node → corpus
        # anti-join against non-keepers (mirrors dedup.dedup_apply)
        "dedup_apply": _COMPONENTS_CTE
        + """,
comp AS (
  SELECT src AS doc_id, min(dst) AS keeper_id FROM reach GROUP BY src
)
SELECT c.doc_id, c.text FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> keeper_id)
""",
        "cosine_topk": """
WITH dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(round(
           list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4)
         AS DOUBLE) AS sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM dots
) WHERE rank <= 5
""",
        "embedding_neardup": "WITH "
        + S.EMB_WITH_DUPS_CTE_DUCKDB.strip()
        + """
SELECT vec_a, vec_b, sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(round(
           list_dot_product(a.embedding, b.embedding)
           / (sqrt(list_dot_product(a.embedding, a.embedding))
            * sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS DOUBLE) AS sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
) WHERE sim >= 0.99
""",
        "bleu_score": f"""
WITH pairs AS (
  SELECT text AS ref, {mutate} AS hyp FROM documents
),
tok AS (
  SELECT row_number() OVER () AS pair_id,
         string_split(ref, ' ') AS rw, string_split(hyp, ' ') AS hw
  FROM pairs
),
hgrams AS (
  SELECT pair_id, CAST(n AS INT) AS n,
         unnest(list_transform(range(1, len(hw) - CAST(n AS INT) + 2),
                i -> array_to_string(hw[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' '))) AS gram
  FROM tok CROSS JOIN range(1, 5) tn(n)
),
rgrams AS (
  SELECT pair_id, CAST(n AS INT) AS n,
         unnest(list_transform(range(1, len(rw) - CAST(n AS INT) + 2),
                i -> array_to_string(rw[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' '))) AS gram
  FROM tok CROSS JOIN range(1, 5) tn(n)
),
hc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS cnt FROM hgrams GROUP BY 1, 2, 3),
rc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS rcnt FROM rgrams GROUP BY 1, 2, 3),
per_n AS (
  SELECT hc.n,
         sum(least(hc.cnt, coalesce(rc.rcnt, 0))) AS clip,
         sum(hc.cnt) AS tot
  FROM hc LEFT JOIN rc ON rc.pair_id = hc.pair_id AND rc.n = hc.n AND rc.gram = hc.gram
  GROUP BY hc.n
),
stats AS (
  SELECT sum(clip) FILTER (WHERE n = 1) AS clip1, sum(tot) FILTER (WHERE n = 1) AS tot1,
         sum(clip) FILTER (WHERE n = 2) AS clip2, sum(tot) FILTER (WHERE n = 2) AS tot2,
         sum(clip) FILTER (WHERE n = 3) AS clip3, sum(tot) FILTER (WHERE n = 3) AS tot3,
         sum(clip) FILTER (WHERE n = 4) AS clip4, sum(tot) FILTER (WHERE n = 4) AS tot4
  FROM per_n
),
lens AS (SELECT sum(len(hw)) AS hyp_len, sum(len(rw)) AS ref_len FROM tok)
SELECT CAST(round(
  CASE WHEN coalesce(clip1, 0) = 0 OR coalesce(clip2, 0) = 0
         OR coalesce(clip3, 0) = 0 OR coalesce(clip4, 0) = 0
         OR coalesce(tot1, 0) = 0 OR coalesce(tot2, 0) = 0
         OR coalesce(tot3, 0) = 0 OR coalesce(tot4, 0) = 0
  THEN 0.0
  ELSE (CASE WHEN hyp_len > ref_len THEN 1.0
        ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / hyp_len) END)
       * exp((ln(CAST(clip1 AS DOUBLE) / tot1) + ln(CAST(clip2 AS DOUBLE) / tot2)
            + ln(CAST(clip3 AS DOUBLE) / tot3) + ln(CAST(clip4 AS DOUBLE) / tot4)) / 4.0)
  END, 4) AS DOUBLE) AS bleu4
FROM stats, lens
""",
        "main_content_extract": r"""
WITH wrapped AS (
  SELECT doc_id, text,
    '<html><head><title>Doc</title><style>p{color:red}</style><script>var x = 1 < 2;</script></head><body><nav><a href="/">Home</a> | <a href="/about">About</a></nav><header>Site Header</header><div id="main"><p>'
    || text ||
    '</p></div><aside>Related links</aside><footer>(c) 2026 Example</footer></body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(html,
        '(?i)<head\b[^>]*>[\s\S]*?</head>', ' ', 'g'),
        '(?i)<script\b[^>]*>[\s\S]*?</script>', ' ', 'g'),
        '(?i)<style\b[^>]*>[\s\S]*?</style>', ' ', 'g'),
        '(?i)<nav\b[^>]*>[\s\S]*?</nav>', ' ', 'g'),
        '(?i)<header\b[^>]*>[\s\S]*?</header>', ' ', 'g'),
        '(?i)<footer\b[^>]*>[\s\S]*?</footer>', ' ', 'g'),
        '(?i)<aside\b[^>]*>[\s\S]*?</aside>', ' ', 'g'),
        '<[^>]+>', ' ', 'g'),
        '\s+', ' ', 'g')) AS main_text
  FROM wrapped
)
SELECT doc_id, main_text,
       CAST(CASE WHEN main_text = text THEN 1 ELSE 0 END AS INT) AS matches
FROM stripped
""",
        "bucket_histogram": f"""
SELECT bucket_w, bucket_h, CAST(count(*) AS BIGINT) AS n_images
FROM read_parquet('{prepro_pq}')
GROUP BY bucket_w, bucket_h
ORDER BY bucket_w, bucket_h
""",
        "media_image_features": f"""
SELECT media_ref, height, width, n_bytes, mean_luma, nonwhite_frac,
       content_h, content_w
FROM read_parquet('{features_pq}')
""",
        "main_content_extract_dom": r"""
SELECT doc_id,
       trim(regexp_replace(text, '\s+', ' ', 'g')) AS main_text,
       CAST(CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = text
            THEN 1 ELSE 0 END AS INT) AS matches
FROM documents
""",
        "token_count": f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_words,
       CAST({_bpe_subword_sql("text")} AS BIGINT) AS n_subwords,
       CAST(length(text) AS INT) AS n_chars
FROM documents
""",
        "quality_score": f"""
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(round(stop_hits / n_words, 4) AS DOUBLE) AS stopword_ratio,
       CAST(round(n_punct / n_chars, 4) AS DOUBLE) AS punct_ratio,
       CAST(round((n_chars - (n_words - 1)) / n_words, 4) AS DOUBLE) AS avg_word_len,
       CAST(CASE WHEN n_words >= 8 AND round(stop_hits / n_words, 4) >= 0.05
            THEN 1 ELSE 0 END AS INT) AS quality_keep
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(({stop_hits}) AS DOUBLE) AS stop_hits,
         CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
)
""",
        "language_id": f"""
SELECT doc_id,
       CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END AS lang_pred,
       score_de, score_en, score_es, score_fr
FROM (
  SELECT doc_id,
         {score_cols}
  FROM documents
)
""",
        # exact percentiles: DuckDB quantile_cont and Spark percentile share
        # the p*(n-1) linear-interpolation definition; both sides round 4dp
        "quality_percentiles": f"""
WITH scored AS (
  SELECT {score_cols},
         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
         round(CAST(({stop_hits}) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio
  FROM documents
), langed AS (
  SELECT CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END AS lang_pred,
         n_words, stopword_ratio
  FROM scored
)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(round(quantile_cont(n_words, 0.5), 4) AS DOUBLE) AS p50_words,
       CAST(round(quantile_cont(n_words, 0.95), 4) AS DOUBLE) AS p95_words,
       CAST(round(quantile_cont(n_words, 0.99), 4) AS DOUBLE) AS p99_words,
       CAST(round(quantile_cont(stopword_ratio, 0.5), 4) AS DOUBLE) AS p50_stop,
       CAST(round(quantile_cont(stopword_ratio, 0.95), 4) AS DOUBLE) AS p95_stop,
       CAST(round(quantile_cont(stopword_ratio, 0.99), 4) AS DOUBLE) AS p99_stop
FROM langed GROUP BY lang_pred ORDER BY lang_pred
""",
        "curate_percentile": f"""
WITH scored AS (
  SELECT doc_id, text, {score_cols},
         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words
  FROM documents
),
gated AS (
  SELECT doc_id, text, n_words FROM scored
  WHERE (CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END) = 'en'
),
thr AS (SELECT quantile_cont(n_words, 0.5) AS thr FROM gated),
kept AS (
  SELECT g.doc_id, g.text,
         md5(lower(regexp_replace(g.text, '\\s+', ' ', 'g'))) AS fp
  FROM gated g, thr t WHERE g.n_words >= t.thr
)
SELECT k.doc_id, k.text FROM kept k
JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp) m
  ON k.fp = m.fp AND k.doc_id = m.doc_id
""",
        "fingerprint": """
SELECT doc_id,
       md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_md5,
       substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 8) AS fp_prefix
FROM documents
""",
        # composed curation pass over the planted-dups corpus: same lang /
        # quality / fingerprint formulas as the standalone oracles, keeper =
        # min doc_id per normalized-content fingerprint
        "curate_corpus": _DUP_CTE
        + f""",
scored AS (
  SELECT doc_id, text, {score_cols} FROM corpus
),
gated AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM scored
  WHERE (CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END) = 'en'
    AND len(string_split(text, ' ')) >= 8
    AND round(CAST(({stop_hits}) AS DOUBLE) / len(string_split(text, ' ')), 4) >= 0.05
)
SELECT g.doc_id, g.text FROM gated g
JOIN (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp) k
  ON g.fp = k.fp AND g.doc_id = k.doc_id
""",
        "extract_text_passthrough": _CTE
        + """
SELECT doc_id, part, text, "offset" FROM doc_spans WHERE kind = 'text'
""",
        "extract_media_decoded": _CTE
        + f"""
SELECT s.doc_id, s."offset", s.media_ref, o.latex
FROM doc_spans s
JOIN read_parquet('{decodes_pq}') o USING (media_ref)
WHERE s.kind = 'media'
""",
        "extract_media_beam": _CTE
        + f"""
SELECT s.doc_id, s."offset", s.media_ref, o.latex
FROM doc_spans s
JOIN read_parquet('{beam_decodes_pq}') o USING (media_ref)
WHERE s.kind = 'media'
""",
        "windowed_event_counts": """
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       strftime(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS win_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
        # '>' (strict): Spark session_window MERGES an event arriving exactly
        # gap after the previous one (closed boundary — verified empirically,
        # pinned by tests/test_streaming.py::test_sessionize_exact_gap_merges)
        "sessionize": """
WITH gapped AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM gapped
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS sess_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, sess_id
""",
        "asof_join": """
WITH ranked AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       o_orderkey,
       CAST(round(o_totalprice, 4) AS DOUBLE) AS o_totalprice
FROM ranked WHERE rn = 1
""",
        "rollup_revenue": """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "cube_order_stats": """
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(avg(o_totalprice), 4) AS DOUBLE) AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "pivot_events": """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS "view"
FROM events GROUP BY user_id
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS DOUBLE) AS sum_charge,
       CAST(round(avg(l_quantity), 4) AS DOUBLE) AS avg_qty,
       CAST(round(avg(l_extendedprice), 4) AS DOUBLE) AS avg_price,
       CAST(round(avg(l_discount), 4) AS DOUBLE) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "tpch_q7": """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation,
         cn.n_name AS cust_nation,
         CAST(date_part('year', l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
         OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
        "tpch_q10": """
SELECT c_custkey, c_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       CAST(round(c_acctbal, 2) AS DOUBLE) AS c_acctbal,
       n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
        "tpch_q13": """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '4-NOT SPECIFIED') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
        "tpch_q15": """
WITH rev AS (
  SELECT l_suppkey,
         CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
""",
        "tpch_q19": """
SELECT CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_type = 'SMALL'
       AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#2' AND p_type = 'MEDIUM'
       AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#3' AND p_type = 'LARGE'
       AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
""",
        "decontaminate": """
WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g
  FROM (SELECT doc_id, w,
               unnest(range(1, CAST(greatest(len(w) - 4, 1) AS BIGINT) + 1)) AS i
        FROM wl)
  WHERE len(string_split(array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' '), ' ')) = 5
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 3),
hits AS (
  SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM grams JOIN bench USING (g)
  GROUP BY grams.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
        "repetition_ratio": """
WITH wl AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
g AS (
  SELECT doc_id, array_to_string(w[CAST(i AS INT):CAST(i AS INT)+1], ' ') AS g
  FROM (SELECT doc_id, w,
               unnest(range(1, CAST(greatest(len(w) - 1, 1) AS BIGINT) + 1)) AS i
        FROM wl)
  WHERE len(string_split(array_to_string(w[CAST(i AS INT):CAST(i AS INT)+1], ' '), ' ')) = 2
),
agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
         CAST(round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 4)
              AS DOUBLE) AS rep_ratio
  FROM g GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.rep_ratio, 0.0) AS rep_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
        "sample_to_budget": f"""
WITH scored AS (
  SELECT doc_id, text,
         CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END AS lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT)
           AS n_words
  FROM (SELECT doc_id, text, {score_cols} FROM documents)
),
rates AS (
  SELECT lang,
         least(1.0,
               CAST(CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 4000
                              WHEN 'fr' THEN 4000 WHEN 'es' THEN 4000
                              ELSE 0 END AS DOUBLE)
               / sum(n_words)) AS rate
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_words,
       CAST(round(r.rate, 6) AS DOUBLE) AS rate
FROM scored s JOIN rates r USING (lang)
WHERE substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)
      < printf('%08x', least(CAST(floor(r.rate * 4294967296.0) AS BIGINT),
                             4294967295))
""",
        "quality_weighted_sample": f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS INT) AS n_words,
         {stop_hits} AS stop_hits
  FROM documents
),
q AS (
  SELECT doc_id, n_words,
         round((least(1.0, n_words / 64.0)
                + least(1.0, (stop_hits / n_words) / 0.25)) / 2.0, 4)
           AS quality
  FROM scored WHERE n_words > 0
)
SELECT doc_id, n_words, CAST(quality AS DOUBLE) AS quality,
       CAST(0.1 + 0.9 * quality AS DOUBLE) AS rate
FROM q
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      < printf('%08x',
               least(CAST(floor((0.1 + 0.9 * quality)
                                * 4294967296.0) AS BIGINT),
                     4294967295))
""",
        "pack_sequences": """
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 16
           AS shard,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS INT) AS n_words
  FROM documents
)
SELECT doc_id, shard,
       CAST(floor(COALESCE(sum(n_words) OVER w, 0) / 256.0) AS BIGINT)
         AS seq_id,
       CAST(COALESCE(sum(n_words) OVER w, 0) % 256 AS BIGINT) AS "offset",
       n_words
FROM base
WINDOW w AS (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
""",
        "chunk_dedup": """
WITH wl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
),
ex AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS idx,
         array_to_string(
           w[(CAST(i AS INT) - 1) * 20 + 1 : (CAST(i AS INT) - 1) * 20 + 20],
           ' ') AS chunk
  FROM (SELECT doc_id, w,
               unnest(range(1, CAST(ceil(len(w) / 20.0) AS BIGINT) + 1)) AS i
        FROM wl)
),
flagged AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1
           AS kept
  FROM ex
)
SELECT d.doc_id,
       COALESCE(string_agg(f.chunk, ' ' ORDER BY f.idx)
                FILTER (WHERE f.kept), '') AS text,
       CAST(count(f.chunk) AS BIGINT) AS n_chunks,
       CAST(COALESCE(sum(CASE WHEN f.kept THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_kept
FROM documents d LEFT JOIN flagged f USING (doc_id)
GROUP BY d.doc_id
""",
        "stratified_split": f"""
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{format(min(int(0.98 * 2**32), 2**32 - 1), "08x")}'
              THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{format(min(int((0.98 + 0.01) * 2**32), 2**32 - 1), "08x")}'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
        "tpch_q8": """
WITH rnat AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
li AS (
  SELECT l_orderkey, n.n_name AS supp_nation,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n ON s_nationkey = n.n_nationkey
)
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE 0 END) / sum(volume), 6) AS DOUBLE)
         AS mkt_share
FROM li
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN rnat ON c_nationkey = rnat.n_nationkey
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY o_year ORDER BY o_year
""",
        "tpch_q9": """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(round(sum(l_extendedprice * (1 - l_discount)
                      - 0.6 * p_retailprice * l_quantity), 2) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
""",
        "tpch_q2": """
WITH rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
pf AS (SELECT p_partkey FROM part WHERE p_size = 15 AND p_type = 'STANDARD'),
ps AS (
  SELECT l_partkey, l_suppkey,
         round(min(l_extendedprice / l_quantity), 4) AS cost
  FROM lineitem GROUP BY 1, 2
),
j AS (
  SELECT pf.p_partkey, rs.s_name, rs.s_acctbal, rs.n_name, ps.cost
  FROM ps JOIN pf ON l_partkey = p_partkey JOIN rs ON l_suppkey = s_suppkey
)
SELECT CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal, s_name, n_name,
       p_partkey, CAST(cost AS DOUBLE) AS supply_cost
FROM (SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS mc FROM j)
WHERE cost = mc
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""",
        "tpch_q11": """
WITH sn AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
pp AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
  FROM lineitem JOIN sn ON l_suppkey = s_suppkey GROUP BY 1
),
t AS (SELECT sum(value) * 0.001 AS thr FROM pp)
SELECT l_partkey AS p_partkey, CAST(round(value, 2) AS DOUBLE) AS value
FROM pp, t WHERE round(value, 2) > round(thr, 2)
ORDER BY value DESC, p_partkey
""",
        "tpch_q16": """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
         AND p_brand <> 'BRAND_1' AND p_type <> 'PROMO'
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
        "tpch_q12": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
""",
        "tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        FROM documents)
  WHERE t <> ''
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
              AS DOUBLE) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
WHERE rank <= 3
""",
        "tpch_q3": """
SELECT l_orderkey,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
        "tpch_q5": """
SELECT n_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
        "tpch_q6": """
SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
""",
        "tpch_q14": """
SELECT CAST(round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
           / sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
        # Q4 adapted: no commit/receipt dates in the synthetic lineitem, so
        # "late" is l_returnflag = 'R'
        "tpch_q4": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        # Q17 adapted: no p_container in the synthetic part table, so the
        # part predicate is the brand alone; avg threshold is a window avg
        # (exact: l_quantity sums are integer-exact in double, so both
        # engines compute the identical threshold)
        "tpch_q17": """
SELECT CAST(round(sum(l_extendedprice) / 7.0, 2) AS DOUBLE) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small
FROM (
  SELECT l_quantity, l_extendedprice,
         0.2 * avg(l_quantity) OVER (PARTITION BY l_partkey) AS qty_threshold
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#23'
)
WHERE l_quantity < qty_threshold
""",
        # Q20 adapted: no partsupp table, so per-(supplier, part) availqty is
        # the stock-year (1997) shipped quantity and the spec's correlated
        # 0.5*sum threshold is the demand-year (1998) quantity for the same
        # (partkey, suppkey); no p_name pattern, so promotable = p_type.
        # The oracle keeps the SPEC's correlated-scalar-subquery form — the
        # Spark side decorrelates it to one conditional aggregation.
        # l_quantity values are integer-valued doubles, so sums and the 0.5*
        # threshold are exact on both engines.
        "tpch_q20": """
WITH per_part AS (
  SELECT l1.l_suppkey,
         sum(l1.l_quantity) AS avail,
         (SELECT 0.5 * coalesce(sum(l2.l_quantity), 0.0) FROM lineitem l2
          WHERE l2.l_partkey = l1.l_partkey AND l2.l_suppkey = l1.l_suppkey
            AND l2.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
            AND l2.l_shipdate < TIMESTAMP '1999-01-01 00:00:00') AS half_demand
  FROM lineitem l1
  WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND l1.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l1.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l1.l_suppkey, l1.l_partkey
),
qual AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_excess_parts,
         CAST(round(sum(avail - half_demand), 2) AS DOUBLE) AS excess_qty
  FROM per_part
  WHERE avail > half_demand
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_name, n_excess_parts, excess_qty
FROM qual
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_suppkey
""",
        # Q21 adapted: no commit/receipt dates, so "late" is l_returnflag =
        # 'R' (the Q4 adaptation); no top-100 LIMIT (limit-boundary ties are
        # engine-dependent — the gate hashes the full deterministic ranking).
        # The oracle keeps the SPEC's correlated EXISTS + NOT-EXISTS form;
        # the Spark side decorrelates both to windowed conditional distinct
        # counts over one scan.
        "tpch_q21": """
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s, lineitem l1, orders o
WHERE s.s_suppkey = l1.l_suppkey
  AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
""",
        # Q22 adapted: no c_phone (country code = c_nationkey) and every
        # synthetic customer has orders, so NOT EXISTS is parameterized to
        # orders since 2001-01-01 (dormant customers)
        "tpch_q22": """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
        "running_user_totals": """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value), 4) AS DOUBLE) AS total
FROM events GROUP BY user_id
""",
        # batch replay of the streaming first-seen rule: one micro-batch over
        # the planted-dups corpus admits exactly the min-doc_id row per
        # normalized-content fingerprint
        "streaming_dedup": _DUP_CTE
        + """
SELECT doc_id, fp_md5, text FROM (
  SELECT doc_id, text,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_md5,
         row_number() OVER (
           PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
           ORDER BY doc_id
         ) AS rn
  FROM corpus
)
WHERE rn = 1
""",
        "tpch_q18": """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
       CAST(sum_qty AS DOUBLE) AS sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250) q
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
""",
        # A2 — per-ref CE rows from the single-process replica; same
        # exp(Σce/Σn) reduction as the Spark side (reference img2seq.py:68-75)
        "perplexity": f"""
SELECT CAST(round(exp(sum(ce_sum) / sum(n_words)), 4) AS DOUBLE) AS perplexity,
       CAST(sum(n_words) AS BIGINT) AS n_words
FROM read_parquet('{perplexity_pq}')
""",
        # approximate ANN — deterministic given seeds, so hash-checked against
        # materialized single-process replicas (oracle_store), like the decode
        # oracle; recall vs the exact path is additionally pytest-asserted
        "lsh_cosine_topk": f"""
SELECT query_id, neighbor_id, sim, rank
FROM read_parquet('{lsh_pq}')
""",
        "ivf_cosine_topk": f"""
SELECT query_id, neighbor_id, sim, rank
FROM read_parquet('{ivf_pq}')
""",
        # Composed end-to-end pass: rebuild each doc from its extracted spans
        # (text spans verbatim, media spans via the materialized decode
        # oracle), plant the standard dup family, replay the curate gates,
        # then the SAME shingle→jaccard→closure chain as the dedup oracles
        # over the CURATED corpus, and token-count the survivors.
        "training_pipeline": "WITH RECURSIVE "
        + spans_duckdb_cte()
        + f""",
rebuilt0 AS (
  SELECT s.doc_id AS sid,
         string_agg(COALESCE(s.text, o.latex), ' ' ORDER BY s."offset") AS text
  FROM doc_spans s
  LEFT JOIN read_parquet('{decodes_pq}') o
    ON s.media_ref = o.media_ref
  WHERE s.part IN ({_TP_GATE_PARTS_SQL})
  GROUP BY s.doc_id
),
rebuilt AS (
  SELECT CAST(string_split(sid, '-')[2] AS BIGINT) AS doc_id, text
  FROM rebuilt0
),
pipe_corpus AS (
  SELECT doc_id, text FROM rebuilt
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(string_split(text, ' ')[6:], ' ') AS text
  FROM rebuilt WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM rebuilt WHERE doc_id % 15 = 0
),
gated AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM (SELECT doc_id, text, {score_cols} FROM pipe_corpus)
  WHERE (CASE WHEN {best_score} > 0 THEN {best_expr} ELSE 'und' END) = 'en'
    AND len(string_split(text, ' ')) >= 8
    AND round(CAST(({stop_hits}) AS DOUBLE) / len(string_split(text, ' ')), 4) >= 0.05
),
curated AS (
  SELECT g.doc_id, g.text FROM gated g
  JOIN (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp) k
    ON g.fp = k.fp AND g.doc_id = k.doc_id
)"""
        + _shingle_chain("curated")
        + _CLOSURE_CHAIN
        + f""",
comp AS (
  SELECT src AS doc_id, min(dst) AS keeper_id FROM reach GROUP BY src
)
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_words,
       CAST({_bpe_subword_sql("text")} AS BIGINT) AS n_subwords,
       CAST(length(text) AS INT) AS n_chars
FROM curated
WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> keeper_id)
""",
    }
