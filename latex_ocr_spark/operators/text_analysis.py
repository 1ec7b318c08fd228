"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

Every operator is a pure built-in-expression DataFrame transform (JVM-side,
whole-stage-codegen; no Python in the hot path) with an exactly-equivalent
DuckDB oracle formula in __spark_entry__.oracle_sql.

The word-level primitives every text operator of the package builds on are
defined here once, as built-in Column expressions:

- ``tokens(text)``: the raw tokens, ``split(text, ' ')``. A double, leading
  or trailing space yields an empty token and ``''`` splits to ``['']``;
- ``words(text)``: the non-empty tokens, and ``n_words(text)`` their count;
- ``ngrams(toks, n)``: the space-joined n-grams of a token-array column,
  empty below n tokens;
- ``doc_draw()``: the uniform draw md5(doc_id) gives each document, and
  ``draw_below(rate)``, true for a share ``rate`` of documents;
- ``stopword_ratio(text)``: STOPWORDS hits per raw token, at 4 dp.

Which split a signal reads is part of its definition, and the DuckDB
oracles mirror it. Raw tokens: ``quality_score``'s counts and the stopword
ratio (so the ``curate_corpus`` gate), the lexicon counts behind language
ID, the repetition and decontamination n-grams, the dedup shingles, and the
BLEU and token edit-distance metrics. Words: every word count a budget,
sample or pack reads (``token_count``, ``quality_percentiles``,
``sample_to_budget``, ``quality_weighted_sample``, packing, the mix stage),
chunking, the LM bigrams, the tf-idf terms, SimHash and BPE learning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_checkpoint, persist, release, scope

# Per-language marker lexicons for the whole-word stopword heuristic:
# ~25 high-frequency function words per language (ASCII-only so the literals
# embed safely in the mirrored DuckDB SQL; apostrophe forms excluded for the
# same reason). Scores sum whole-token hits; overlap across languages is fine
# — the argmax sees the net signal.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [
        "the", "a", "of", "and", "to", "in", "is", "was", "for", "on",
        "with", "as", "by", "at", "it", "from", "that", "this", "be", "are",
        "were", "not", "have", "has", "but", "they",
    ],
    "de": [
        "der", "die", "das", "und", "ist", "war", "nicht", "mit", "von",
        "zu", "den", "dem", "ein", "eine", "im", "auf", "sich", "auch",
        "nach", "bei", "aus", "wird", "sind", "als", "wie", "oder",
    ],
    "fr": [
        "le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des",
        "au", "aux", "ce", "cette", "il", "elle", "sur", "ne", "pas",
        "plus", "par", "avec", "mais", "ses", "sont", "ont",
    ],
    "es": [
        "el", "los", "las", "y", "es", "en", "un", "una", "del", "para",
        "que", "con", "por", "no", "se", "su", "al", "lo", "como", "pero",
        "sus", "este", "esta", "son", "entre", "sobre",
    ],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# Deterministic greedy-BPE fixture merge table for subword counting (token
# budgeting), applied in rank order — the original BPE apply procedure:
# start from characters, then for each (left, right) pair in order replace
# every adjacent occurrence with the merged token. Every compound operand is
# produced by an earlier merge, so the table is well-formed under strict
# in-order application. The fixture keeps the subword-count gate row
# deterministic; the production path LEARNS this table from the corpus with
# learn_bpe_merges() below (same apply semantics, verified against a
# pure-python BPE reference) and feeds it into the same expression chain.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("i", "n"), ("a", "n"), ("r", "e"), ("o", "n"),
    ("e", "r"), ("o", "u"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("s", "t"), ("a", "t"), ("a", "r"), ("o", "f"), ("t", "o"),
    ("i", "s"), ("i", "t"), ("a", "l"), ("e", "d"), ("a", "s"),
    ("l", "l"), ("c", "h"), ("l", "e"), ("s", "e"), ("r", "o"),
    ("m", "e"), ("w", "h"), ("e", "a"), ("d", "e"), ("c", "o"),
    ("u", "n"), ("s", "h"), ("w", "a"), ("l", "i"), ("m", "a"),
    ("th", "e"), ("an", "d"), ("in", "g"), ("ou", "r"), ("er", "s"),
    ("on", "e"), ("at", "e"), ("or", "e"), ("en", "t"), ("ed", "s"),
    ("es", "s"), ("al", "l"), ("ar", "t"), ("is", "h"), ("it", "y"),
]

# Token-stream encoding for the merge chain: every token is rendered as
# "<string>MARK" and tokens are space-separated with a leading space, so the
# merge needle " aMARK bMARK" (ending at the marker, not consuming the
# following separator space) matches adjacent repeats exactly — "t h t h"
# merges to "th th", unlike separator-consuming formulas. Original spaces
# become WSEP tokens that no merge touches, keeping merges word-local.
# MARK/WSEP are control chars absent from any sane document text; a real
# pipeline strips control chars upstream.
BPE_MARK = "\x01"
BPE_WSEP = "\x02"


def _bpe_subword_count(text_col):
    """Greedy-BPE subword count as one chained built-in string pipeline
    (JVM-side, no UDF): intersperse MARK+space after every char, fold the
    merge table in rank order as replace()s, then count = #MARK − #WSEP
    (word-separator tokens are not subwords). Mirrored char-for-char in the
    DuckDB oracle.

    Line terminators are stripped first: Java regex ``.`` excludes \\r,
    \\u0085, \\u2028, \\u2029 while RE2 (DuckDB) excludes only \\n, so a CRLF
    document would get \\r marked by the oracle but not by Spark. Dropping
    them on BOTH engines (same regexp_replace) keeps the intersperse
    identical; \\n itself is excluded by ``.`` on both engines, so it needs
    no normalization."""
    s = F.regexp_replace(text_col, "[\r\u0085\u2028\u2029]", "")
    s = F.replace(s, F.lit(" "), F.lit(BPE_WSEP))
    s = F.regexp_replace(s, "(.)", "$1" + BPE_MARK + " ")
    s = F.concat(F.lit(" "), s)
    for a, b in BPE_MERGES:
        s = F.replace(
            s,
            F.lit(f" {a}{BPE_MARK} {b}{BPE_MARK}"),
            F.lit(f" {a}{b}{BPE_MARK}"),
        )
    n_marks = F.length(s) - F.length(F.replace(s, F.lit(BPE_MARK), F.lit("")))
    n_seps = F.length(s) - F.length(F.replace(s, F.lit(BPE_WSEP), F.lit("")))
    return (n_marks - n_seps).cast("long")


def tokens(text_col: Column) -> Column:
    """The raw single-space tokens of ``text_col``: split(text, ' ')."""
    return F.split(text_col, " ")


def words(text_col: Column) -> Column:
    """The words of ``text_col``: its non-empty tokens."""
    return F.filter(tokens(text_col), lambda t: t != "")


def n_words(text_col: Column) -> Column:
    """How many words ``text_col`` holds."""
    return F.size(words(text_col))


def ngrams(toks: Column, n: int) -> Column:
    """The space-joined n-grams of the token array ``toks``; empty below n
    tokens (the guard matters: ``sequence(1, 0)`` is the descending [1, 0],
    not an empty array).

    ``toks`` must be a column projected below this expression, never a
    ``split``: Spark evaluates the lambda once per n-gram and shares no
    subexpression across its calls, so a split inside it would re-split the
    text per n-gram, quadratic in document length
    (tests/test_plans.py::test_text_split_once_per_row)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _count_words(text_col: Column, lexicon: list[str]) -> Column:
    """Tokens of ``text`` equal to any of ``lexicon``:
    size(filter(split(text, ' '), t -> t IN lexicon)).

    Exact even for adjacent repeats ("w w" counts 2) — the previous padded
    length-difference replace formula missed every second of an adjacent run
    because the shared separator space is consumed by the first
    non-overlapping match. One filter pass covers a whole marker lexicon
    (each token matches at most one distinct marker), still a built-in array
    expression inside whole-stage codegen; mirrored as
    len(list_filter(string_split(...), t -> t IN (...))) in DuckDB.
    """
    return F.size(
        F.filter(tokens(text_col), lambda t: t.isin(*lexicon))
    ).cast("long")


def stopword_ratio(text_col: Column) -> Column:
    """STOPWORDS hits per raw token, rounded to 4 dp: the ``quality_score``
    signal and half of its keep gate."""
    return F.round(_count_words(text_col, STOPWORDS) / F.size(tokens(text_col)), 4)


def doc_draw() -> Column:
    """Each document's uniform draw on [0, 16^8): the first 8 hex chars of
    md5(doc_id), compared as a string. md5 is engine-stable, so every
    engine and every run draws the same value, and the id alone is hashed:
    it is already unique, and hashing the text would cost a second
    full-text pass for no extra entropy."""
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)


def draw_below(rate: Column) -> Column:
    """True for a share ``rate`` of documents: ``doc_draw()`` sorts below
    floor(rate · 16^8) rendered as 8 zero-padded hex digits. The threshold
    is capped at 16^8 − 1: rate = 1.0 would render 9 hex digits, which lpad
    truncates, while 'ffffffff' keeps all but the 1-in-4B exact match."""
    threshold = F.lpad(
        F.lower(F.hex(
            F.least(
                F.floor(rate * F.lit(4294967296.0)).cast("bigint"),
                F.lit(4294967295),
            )
        )),
        8, "0",
    )
    return doc_draw() < threshold


def token_count(corpus: DataFrame, keep_text: bool = False) -> DataFrame:
    """Whitespace tokens + deterministic greedy-BPE subword count
    (BPE_MERGES fixture table, rank-order application) per document —
    the number a training pipeline budgets against. ``keep_text`` carries
    the document text through (the materialized-corpus sink wants text +
    budget; the gate query wants the counts alone)."""
    cols = ["doc_id"] + (["text"] if keep_text else [])
    return corpus.select(
        *cols,
        n_words(F.col("text")).alias("n_words"),
        _bpe_subword_count(F.col("text")).alias("n_subwords"),
        F.length("text").alias("n_chars"),
    )


def quality_score(corpus: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals, rounded to 4dp
    (float-stable across engines)."""
    n_tokens = F.size(tokens(F.col("text")))
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[\.,;:!\?]", "")
    )
    avg_word_len = F.round(
        (F.length("text") - (n_tokens - 1)) / n_tokens, 4
    )  # chars excluding single separators / token count
    return corpus.select(
        "doc_id",
        n_tokens.alias("n_words"),
        stopword_ratio(F.col("text")).cast("double").alias("stopword_ratio"),
        F.round(n_punct / F.length("text"), 4).cast("double").alias("punct_ratio"),
        avg_word_len.cast("double").alias("avg_word_len"),
        _quality_keep_expr(F.col("text")).cast("int").alias("quality_keep"),
    )


def _lang_scores(text_col) -> dict:
    return {
        lang: _count_words(text_col, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pred_expr(text_col, scores: dict | None = None):
    """argmax over marker-lexicon scores; alphabetical tie-break; 'und' when
    all scores are 0. Shared by language_id and curate_corpus."""
    scores = scores or _lang_scores(text_col)
    best = None
    best_score = None
    for lang in sorted(scores):
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def _quality_keep_expr(text_col):
    """The quality gate predicate (at least 8 raw tokens and stopword ratio
    >= 0.05) with the exact rounding quality_score reports. Shared by
    quality_score and curate_corpus."""
    return (F.size(tokens(text_col)) >= 8) & (stopword_ratio(text_col) >= 0.05)


def language_id(corpus: DataFrame) -> DataFrame:
    """Marker-lexicon language scorer: picks the language with the highest
    whole-word marker hit count; ties broken by language code order; 'und'
    (undetermined) when all scores are 0."""
    scores = _lang_scores(F.col("text"))
    sel = [corpus["doc_id"], lang_pred_expr(F.col("text"), scores).alias("lang_pred")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in sorted(scores)]
    return corpus.select(*sel)


QUALITY_PERCENTILES = (0.5, 0.95, 0.99)


def quality_percentiles(
    corpus: DataFrame, ps: tuple = QUALITY_PERCENTILES
) -> DataFrame:
    """Exact per-language P50/P95/P99 of the curation signals a real
    pipeline thresholds on: n_words (non-empty whitespace tokens, the
    token_count definition) and stopword_ratio (the quality_score
    definition, pre-rounded to 4dp). One row per predicted language.

    Scale notes (100 TB): Spark's exact ``percentile`` aggregate keeps a
    map-side partially-aggregated counts-map keyed by DISTINCT value, so
    executor memory is O(distinct values), not O(rows). Both signals are
    low-cardinality by construction — n_words is bounded by document
    length and stopword_ratio is rounded to 4dp (≤ 10001 distinct values)
    — so the exact path survives web-scale groups; for unbounded-
    cardinality signals switch to approx_percentile (t-digest sketch).
    """
    per_doc = corpus.select(
        lang_pred_expr(F.col("text")).alias("lang_pred"),
        n_words(F.col("text")).cast("long").alias("n_words"),
        stopword_ratio(F.col("text")).cast("double").alias("stopword_ratio"),
    )
    pct = F.array(*[F.lit(float(p)) for p in ps])
    agg = per_doc.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.percentile("n_words", pct).alias("_w"),
        F.percentile("stopword_ratio", pct).alias("_s"),
    )
    sel = [F.col("lang_pred"), F.col("n_docs")]
    for i, p in enumerate(ps):
        tag = str(int(round(p * 100)))
        sel.append(
            F.round(F.col("_w")[i], 4).cast("double").alias(f"p{tag}_words")
        )
    for i, p in enumerate(ps):
        tag = str(int(round(p * 100)))
        sel.append(
            F.round(F.col("_s")[i], 4).cast("double").alias(f"p{tag}_stop")
        )
    return agg.select(*sel).orderBy("lang_pred")


def content_fp(text: str = "text") -> Column:
    """The normalized-content fingerprint: md5 of the lower-cased,
    whitespace-collapsed text (md5 is engine-stable, unlike xxhash64, which
    DuckDB lacks). ``fingerprint``, both curation keepers and
    streaming.streaming_dedup key on it."""
    return F.md5(F.lower(F.regexp_replace(F.col(text), r"\s+", " ")))


def curate_by_percentile(
    corpus: DataFrame, lang: str = "en", p: float = 0.5
) -> DataFrame:
    """Percentile-thresholded curation: keep documents of the target
    predicted language whose n_words is at or above that language's own
    p-th percentile (threshold derived FROM the data, not a constant),
    then near-exact fingerprint dedup keeping the min-doc_id
    representative — the data-driven variant of ``curate_corpus``.

    Scale notes: the threshold frame is one row per language (here: one
    row) — broadcast back onto the gated stream, so the only wide shuffle
    is the fingerprint keeper aggregation over survivors. The gated frame
    feeds THREE subtrees (threshold agg, keeper agg, keeper-join row
    stream) — persisted so the language/word-count gate expressions
    evaluate once per row, not once per subtree (the curate_corpus
    pattern; the caller's ``frames.scope()`` releases it).
    """
    gated = persist(
        corpus.select(
            "doc_id",
            "text",
            lang_pred_expr(F.col("text")).alias("lang_pred"),
            n_words(F.col("text")).cast("long").alias("n_words"),
        )
        .filter(F.col("lang_pred") == lang)
    )
    thr = gated.groupBy("lang_pred").agg(
        F.percentile("n_words", F.lit(float(p))).alias("thr")
    )
    kept = (
        gated.join(F.broadcast(thr), "lang_pred")
        .filter(F.col("n_words") >= F.col("thr"))
        .withColumn("fp_md5", content_fp())
    )
    keepers = kept.groupBy("fp_md5").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(keepers, ["fp_md5", "doc_id"]).select("doc_id", "text")


def curate_corpus(corpus: DataFrame, lang: str = "en") -> DataFrame:
    """The end-to-end curation pass a training pipeline runs before
    tokenization: language gate (marker-lexicon argmax == ``lang``), quality
    gate (length + stopword-ratio), then near-exact dedup on the normalized
    content fingerprint (``content_fp``) keeping the min-doc_id
    representative. Emits the surviving (doc_id, text) rows.

    Scale notes (100 TB): both gates are pure expressions applied BEFORE the
    pass's only shuffle, so the fingerprint aggregation and keeper equi-join
    see just the gated survivors; nothing collects to the driver and there
    is no cross join anywhere. The gated frame feeds BOTH sides of the
    keeper join (the (fp, doc_id) aggregation and the row stream it filters)
    — it is persisted so the gate expressions evaluate once per row, not
    once per side (measured: the gates alone are ~45 % of this operator's
    wall; the shuffle stays the narrow (fp_md5, doc_id) aggregation + an
    AQE-chosen broadcast of the keepers, never the text); the caller's
    ``frames.scope()`` releases that cache."""
    gated = persist(
        corpus.filter(
            (lang_pred_expr(F.col("text")) == lang)
            & _quality_keep_expr(F.col("text"))
        ).withColumn("fp_md5", content_fp())
    )
    keepers = gated.groupBy("fp_md5").agg(F.min("doc_id").alias("doc_id"))
    return gated.join(keepers, ["fp_md5", "doc_id"]).select("doc_id", "text")


# Block-level tags whose entire content is boilerplate (dropped content and
# all), then any remaining tag is stripped markup-only. Order matters: block
# removal first, tag strip second, whitespace collapse last.
BOILERPLATE_BLOCKS = ["head", "script", "style", "nav", "header", "footer", "aside"]


def strip_boilerplate(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Main-content extraction from an HTML column: drop script/style/nav/
    header/footer/aside blocks wholesale, strip remaining tags, collapse
    whitespace. Pure regexp_replace chain (JVM codegen, no UDF); the DuckDB
    oracle replays the identical regex pipeline. This is the shuffle-free fast
    path for the overwhelmingly common flat-markup case; nested/malformed
    markup and link-farm blocks go to extract_main_content_dom (the
    mapInPandas DOM-heuristic path)."""
    col = F.col(html_col)
    for tag in BOILERPLATE_BLOCKS:
        col = F.regexp_replace(col, rf"(?i)<{tag}\b[^>]*>[\s\S]*?</{tag}>", " ")
    col = F.regexp_replace(col, r"<[^>]+>", " ")          # leftover markup → separator
    col = F.regexp_replace(col, r"\s+", " ")              # collapse runs
    col = F.trim(col)
    return df.withColumn("main_text", col)


# tags whose subtree (text and all) is boilerplate for the DOM path
_DOM_BOILERPLATE = frozenset(
    BOILERPLATE_BLOCKS + ["template", "noscript", "iframe"]
)
# void elements never go on the open-tag stack (no matching close tag)
_VOID = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)
# block-level boundaries: flushing at these lets the link-density heuristic
# judge one visual block at a time (readability/boilerpipe-style)
_BLOCK = frozenset(
    "p div section article main li ul ol table tr td th blockquote pre "
    "h1 h2 h3 h4 h5 h6 figure figcaption body dl dt dd".split()
)
_MAX_LINK_DENSITY = 0.5


def dom_main_text(html: str) -> str:
    """Main-content text of one HTML document via a tolerant DOM walk
    (stdlib html.parser — no external deps):

      - boilerplate subtrees (nav/header/footer/aside/script/style/…) are
        dropped with an open-tag STACK, so nesting (<header> inside <nav>),
        repeated same-tag nesting, and unclosed tags (popped when an ancestor
        closes) are all handled — the cases that defeat the non-greedy regex
        fast path in strip_boilerplate;
      - each block-level chunk is kept only if its link density (chars inside
        <a> / total chars) is ≤ 0.5, dropping link-farm lists the regex path
        would keep;
      - output is whitespace-collapsed, space-joined block text.

    Driver-side testable; the Spark operator maps it over Arrow batches.
    """
    from html.parser import HTMLParser

    class _P(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.stack: list[str] = []
            self.boiler = 0
            self.link = 0
            self.cur: list[tuple[str, bool]] = []
            self.blocks: list[str] = []

        def _flush(self):
            total = sum(len(t.strip()) for t, _ in self.cur)
            if total:
                linked = sum(len(t.strip()) for t, is_l in self.cur if is_l)
                if linked / total <= _MAX_LINK_DENSITY:
                    text = " ".join(" ".join(t.split()) for t, _ in self.cur if t.strip())
                    self.blocks.append(text)
            self.cur = []

        def _push(self, tag):
            self.stack.append(tag)
            if tag in _DOM_BOILERPLATE:
                self.boiler += 1
            if tag == "a":
                self.link += 1

        def _pop_one(self):
            tag = self.stack.pop()
            if tag in _DOM_BOILERPLATE:
                self.boiler -= 1
            if tag == "a":
                self.link -= 1

        def handle_starttag(self, tag, attrs):
            if tag in _VOID:
                return
            if tag in _BLOCK and self.boiler == 0:
                self._flush()
            self._push(tag)

        def handle_startendtag(self, tag, attrs):
            pass  # self-closing: no stack entry, no text

        def handle_endtag(self, tag):
            if tag in _VOID or tag not in self.stack:
                return  # stray close tag: tolerate
            if tag in _BLOCK and self.boiler == 0:
                self._flush()
            while self.stack and self.stack[-1] != tag:
                self._pop_one()  # unclosed children die with their ancestor
            if self.stack:
                self._pop_one()

        def handle_data(self, data):
            if self.boiler == 0 and data.strip():
                self.cur.append((data, self.link > 0))

    p = _P()
    p.feed(html or "")
    p.close()
    p._flush()
    return " ".join(b for b in p.blocks if b)


def extract_main_content_dom(df: DataFrame, html_col: str = "html") -> DataFrame:
    """DOM-heuristic main-content extraction (north rule's 'DOM heuristics'):
    ``dom_main_text`` over Arrow batches via mapInPandas — the robust path for
    nested/malformed markup, complementing the regex fast path
    (strip_boilerplate). Output schema = input columns + main_text."""
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
    schema = f"{fields}, main_text string"

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["main_text"] = [dom_main_text(h) for h in pdf[html_col]]
            yield pdf

    return df.mapInPandas(run, schema=schema)


def fingerprint(corpus: DataFrame) -> DataFrame:
    """Document fingerprint (``content_fp``) and its 8-hex prefix."""
    fp = content_fp()
    return corpus.select(
        "doc_id", fp.alias("fp_md5"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


def tfidf_top_terms(corpus: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf — the keyword-extraction pass a
    curation pipeline uses for topic tagging / domain mixing.

    All built-in expressions, three shuffles total, each on a key that
    scales: (1) tf = groupBy(doc_id, term) over the exploded lower-cased
    token stream; (2) df = groupBy(term) over the DISTINCT (term, doc)
    pairs the tf aggregate already produced — document frequency reuses
    tf's output, the corpus is never re-scanned; (3) the per-doc top-k
    window on doc_id. N (corpus size) is a 1-row broadcast joined in, the
    same scalar pattern as the Q22 threshold. idf = ln((N+1)/(df+1)) + 1
    (smoothed; no zero/negative weights), rounded at 6 dp only at emission.

    Ranking tie-break is (tfidf DESC, term ASC) so top-k is deterministic
    and engine-independent."""
    terms = corpus.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = corpus.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).cast("double"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-word
    shingle with an evaluation set — the pass every serious training-data
    pipeline runs so test questions never leak into pretraining.

    The benchmark side is usually tiny (eval suites are thousands of rows,
    the corpus is trillions), so AQE broadcasts its distinct shingle set
    from runtime stats and the check becomes a broadcast LEFT SEMI-shaped
    aggregation: explode the corpus's n-gram stream (map-side), inner-join
    the benchmark shingles, count hits per doc, left-join the counts back.
    Corpus rows shuffle only on doc_id for the hit count — no corpus
    self-join, no benchmark-side scan repetition. No broadcast HINT is
    planted (house rule: data-dependent sides get none) — a caller passing
    an oversized benchmark union (every eval suite × distinct 5-grams)
    degrades to a shuffle join instead of OOMing the driver
    (tests/test_text_analysis.py pins the degraded plan).

    Emits every corpus doc with ``n_hits`` (0 = clean) so the caller
    chooses the policy (drop, downweight, audit)."""
    def grams(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", tokens(F.lower(F.col("text"))).alias("_words"))
            .select("doc_id", F.explode(ngrams(F.col("_words"), n)).alias("g"))
            .distinct()
        )

    bench_g = grams(benchmark).select("g").distinct()
    hits = (
        grams(corpus)
        .join(bench_g, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repetition_ratio(
    corpus: DataFrame, n: int = 2, keep_text: bool = False
) -> DataFrame:
    """Within-document n-gram repetition (Gopher-style quality signal):
    1 − distinct n-grams / total n-grams. Boilerplate, keyword stuffing and
    templated spam score high; natural prose scores near 0.

    Pure per-row expressions — zero shuffles, whole-stage codegen end to
    end; the only cost is the transform over each doc's own token list.
    ``keep_text`` carries the document through so a pipeline stage can gate
    on the ratio without a join back (the gate query wants the scores
    alone).

    The tokens and the n-gram array are each a column below the
    expressions that read them (see ``ngrams``). A doc shorter than n
    tokens has no n-grams."""
    grams = F.col("_grams")
    total = F.size(grams)
    return (
        corpus.select(
            "doc_id", "text", tokens(F.lower(F.col("text"))).alias("_words")
        )
        .select("doc_id", "text", ngrams(F.col("_words"), n).alias("_grams"))
        .select(
            "doc_id",
            *(["text"] if keep_text else []),
            total.alias("n_grams"),
            F.when(total > 0,
                   F.round(1.0 - F.size(F.array_distinct(grams)) / total, 4)
                   ).otherwise(F.lit(0.0)).cast("double").alias("rep_ratio"),
        )
    )


def sample_to_budget(
    corpus: DataFrame, budgets: dict[str, int], keep_text: bool = False
) -> DataFrame:
    """Token-budget data mixing: downsample each language stratum to a
    target word budget with a DETERMINISTIC per-doc hash test — the fully
    parallel alternative to greedy ordered filling (which is inherently
    sequential per stratum and would bottleneck one task per language at
    100 TB).

    Mechanics: one aggregation computes each stratum's total word count;
    a doc survives iff ``draw_below(rate)`` for its stratum's
    rate = min(1, budget/total): engine-stable, reproducible run to run.
    The expected surviving token mass is the budget (exact-fill needs a
    global sort; sampling is what scales). Strata totals ride a broadcast
    join; the corpus is scanned once and never shuffles."""
    base = corpus.select(
        "doc_id",
        "text",
        lang_pred_expr(F.col("text")).alias("lang"),
        n_words(F.col("text")).alias("n_words"),
    )
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    totals = (
        base.groupBy("lang")
        .agg(F.sum("n_words").alias("stratum_words"))
        .withColumn("budget", F.coalesce(budget_expr[F.col("lang")], F.lit(0)))
        .withColumn(
            "rate", F.least(F.lit(1.0), F.col("budget") / F.col("stratum_words"))
        )
    )
    return (
        base.join(F.broadcast(totals), "lang")
        .filter(draw_below(F.col("rate")))
        .select("doc_id",
                *(["text"] if keep_text else []),
                "lang", "n_words",
                F.round("rate", 6).cast("double").alias("rate"))
    )


def _apply_merge_expr(col, a: str, b: str):
    """One BPE merge (a, b) → ab applied to an array-of-symbols column as a
    single left-to-right non-overlapping pass — the original BPE apply rule
    — via F.aggregate (a fold, JVM-side): append each symbol, except when
    the accumulator's tail is ``a`` and the symbol is ``b``, in which case
    the tail is replaced by the merged token. A greedy fold IS the
    left-to-right pass: a token just formed by this merge can itself be the
    left operand of the next occurrence exactly when a rescan would merge
    it too (a == b == ab is impossible since merges strictly grow)."""
    merged = F.lit(a + b)
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def learn_bpe_merges(corpus: DataFrame, num_merges: int = 20) -> DataFrame:
    """Learn a BPE merge table from the corpus — the training side of the
    subword counter (``BPE_MERGES`` is its fixture stand-in; this is the
    production path that fills it). Classic BPE over the word-frequency
    table, distributed:

    1. ONE corpus-scale shuffle builds (word, count) — after that every
       iteration runs on the distinct-vocab table, which is orders of
       magnitude smaller than the corpus (Heaps' law), itself still a
       distributed DataFrame (10^6-10^8 rows at web scale, never collected).
    2. Each of ``num_merges`` iterations: explode adjacent symbol pairs
       weighted by word count, aggregate, take the most frequent pair
       (deterministic tie-break: count DESC, then (left, right) ASC — a
       bounded 1-row driver read, same class as Q15's broadcast max), and
       fold the merge into the symbol arrays (pure expressions, no UDF).
       The symbol table is localCheckpoint'd per iteration so the lineage
       (and recompute cost) stays flat across iterations instead of
       chaining k aggregate-folds.

    Returns (rank, left, right, freq) ordered by rank — feed
    ``[(r.left, r.right) for r in ...]`` into ``token_count(merges=...)``.
    Iterative and therefore not SQL-expressible — verified against a
    pure-python BPE reference in tests/test_bpe_learn.py instead of a
    DuckDB oracle (the driver records the rows-only check).
    """
    wf = (
        corpus.select(F.explode(words(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.filter(F.split(F.col("word"), ""), lambda c: c != "")
            .alias("syms"),
            "cnt",
        )
    )
    merges: list[tuple[str, str, int]] = []
    with scope():
        syms = local_checkpoint(wf)
        for _ in range(num_merges):
            arr = F.col("syms")
            pairs = F.transform(
                F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("a"), F.element_at(arr, i + 2).alias("b")
                ),
            )
            best = (
                syms.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("freq"))
                .orderBy(F.col("freq").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not best or best[0].freq <= 0:
                break
            a, b, freq = best[0].a, best[0].b, int(best[0].freq)
            merges.append((a, b, freq))
            nxt = local_checkpoint(
                syms.select(
                    _apply_merge_expr(F.col("syms"), a, b).alias("syms"), "cnt"
                )
            )
            release(syms)
            syms = nxt
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i + 1, a, b, f) for i, (a, b, f) in enumerate(merges)],
        "rank int, left string, right string, freq bigint",
    )


def quality_weighted_sample(
    corpus: DataFrame, low: float = 0.1, high: float = 1.0
) -> DataFrame:
    """Quality-weighted downsampling: every doc gets a keep probability
    interpolated between ``low`` (worst quality) and ``high`` (best) from
    the quality signals — the FineWeb/DCLM-style curation device that
    PREFERS high-quality text instead of hard-gating it, preserving corpus
    diversity while shifting the quality mass.

    The per-doc quality score is the mean of two bounded signals already
    used by ``quality_score``: min(1, n_words/64) (length) and
    min(1, stopword_ratio/0.25) (naturalness). The keep test is
    ``draw_below(rate)``, as in ``sample_to_budget`` — engine-exact,
    reproducible, zero shuffles: the threshold is a pure per-row
    expression, so the whole pass is one scan inside whole-stage codegen. Emits the survivors with their rate."""
    n = n_words(F.col("text"))
    stop_hits = _count_words(F.col("text"), STOPWORDS)
    q = F.round(
        (
            F.least(F.lit(1.0), n / F.lit(64.0))
            + F.least(F.lit(1.0), (stop_hits / n) / F.lit(0.25))
        )
        / 2.0,
        4,
    )
    # NOT re-rounded: a second 4dp round can land on a .00005 tie where
    # Spark (half-up) and an oracle (half-even) disagree (seen live at
    # q=0.5155 -> 0.56395); low + (high-low)*q over the already-4dp q is
    # bit-identical IEEE arithmetic on both engines
    rate = F.lit(low) + (F.lit(high) - F.lit(low)) * q
    return (
        corpus.filter(n > 0)
        .filter(draw_below(rate))
        .select(
            "doc_id",
            n.cast("int").alias("n_words"),
            q.cast("double").alias("quality"),
            rate.cast("double").alias("rate"),
        )
    )


# PII redaction rules, applied in listed order (emails first so their
# digit/dot substrings can't be half-eaten by the IP rule). Patterns stay in
# the common Java-regex/RE2 dialect subset (no lookaround, no backrefs) so
# the DuckDB oracle runs the IDENTICAL pattern strings.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b", "<PHONE>"),
)


def pii_redact(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / E.164 phone numbers; count hits per category.

    The pre-training privacy pass every production corpus gets before
    tokenization. Pure built-in regexp expressions — per-row, ZERO shuffles,
    whole-stage codegen end to end; at 100 TB this rides the same scan as
    any other per-row gate. Counts are measured on the ORIGINAL text (each
    category independent); the redacted text applies the rules in PII_RULES
    order. Replacement tokens contain no digits/@, so the chain is
    idempotent and later rules can't re-match earlier rewrites.
    """
    red = F.col(text_col)
    counts = []
    for name, pat, token in PII_RULES:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, token)
    return corpus.select("doc_id", red.alias("text_redacted"), *counts)


def domain_cap(
    corpus: DataFrame,
    max_per_domain: int = 10,
    domain_col: str = "source",
    keep_text: bool = False,
) -> DataFrame:
    """Per-domain document cap (Common-Crawl-style curation: no single host
    may dominate the training mix). Keeps the ``max_per_domain`` docs with
    the smallest md5(doc_id) rank per domain — a deterministic uniform
    sample, not recency- or size-biased.

    Exact top-N per key is the textbook window-skew cliff: a hot domain
    (at web scale one host can hold 10^8 pages) lands every row in ONE
    row_number task. This implementation is two-phase: phase 1 ranks
    within (domain, physical input partition) and keeps ≤ N per cell —
    that exchange partitions on (domain, pid), so a hot domain spreads
    over as many tasks as it has input splits and at most
    N × num_input_partitions rows per domain survive; phase 2 ranks the
    pruned remainder per domain alone, now bounded regardless of the
    domain's true size. Phase 1 can never evict a global top-N row (each
    row's cell-rank ≤ its domain-rank), so the result is byte-identical
    to the single-window plan and independent of physical partitioning.
    """
    rk = F.md5(F.col("doc_id").cast("string"))
    base = corpus.select(
        "doc_id",
        *(["text"] if keep_text else []),
        F.col(domain_col).alias("domain"),
        rk.alias("_rk"),
    ).withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("domain", "_pid").orderBy("_rk", "doc_id")
    pruned = (
        base.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= max_per_domain)
        .drop("_pid", "_r1")
    )
    w2 = Window.partitionBy("domain").orderBy("_rk", "doc_id")
    return (
        pruned.withColumn("domain_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("domain_rank") <= max_per_domain)
        .drop("_rk")
    )


def upsample_mix(
    corpus: DataFrame,
    factors: dict[str, float],
    lang_col: str = "lang",
    keep_text: bool = False,
) -> DataFrame:
    """Repeat-factor data mixing (Llama/Pile-style epoch weighting): each
    language stratum is replicated ``factors[lang]`` times in expectation.
    floor(f) full copies always emit; the fractional remainder is one extra
    copy iff ``draw_below(frac(f))`` — the keep test of sample_to_budget,
    so f < 1 degrades to plain downsampling and the two operators compose
    into one mixing algebra. Strata absent from
    ``factors`` emit zero copies (budgets define the mix exhaustively).

    Output grain is (doc_id, epoch): epoch ∈ [1, n_copies] numbers the
    replicas so a downstream packer can salt sequence sharding per copy.
    Per-row arithmetic + explode over a ≤ ceil(f)-element sequence — ZERO
    shuffles, no joins; the factor map is a literal, never a broadcast
    table. Output volume is Σ f_i · |stratum_i| by construction, the
    number the mix config promised.
    """
    f_expr = F.coalesce(
        F.create_map(*[F.lit(x) for kv in factors.items() for x in kv])[
            F.col(lang_col)
        ].cast("double"),
        F.lit(0.0),
    )
    n_copies = (
        F.floor(f_expr).cast("int")
        + F.when(draw_below(f_expr - F.floor(f_expr)), 1).otherwise(0)
    )
    base = corpus.select(
        "doc_id",
        *(["text"] if keep_text else []),
        F.col(lang_col).alias("lang"),
        n_copies.alias("n_copies"),
    ).filter(F.col("n_copies") > 0)
    return base.select(
        "doc_id",
        *(["text"] if keep_text else []),
        "lang",
        "n_copies",
        F.explode(
            F.sequence(F.lit(1), F.col("n_copies"))
        ).alias("epoch"),
    )
