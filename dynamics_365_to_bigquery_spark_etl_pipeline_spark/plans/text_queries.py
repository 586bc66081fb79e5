"""Text-analysis query family over ``documents`` (Tier B, BASELINE
north star): token counting, quality scoring, language-ID heuristic,
fingerprinting. All JVM-side expressions with exact SQL mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import curation as C
from ..catalog import kernel_spread
from ..operators.expr_util import explode_nonempty
from ..operators import frequent as FR
from ..operators import text as X


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / character-class counts per document, including BPE-ish
    regex tokenization (SURVEY §7.1: "whitespace + a BPE-ish regex"):
    words, numbers, and punctuation runs counted as separate tokens, the
    pre-tokenization GPT-style BPE applies. One scan, all per-row JVM
    expressions."""
    docs = load_table(spark, sf_dir, "documents")
    cc = X.char_classes(F.col("text"))
    t = F.col("text")
    # The three BPE token classes partition the non-space text (each
    # maximal run belongs to exactly one class), so counting matches
    # per class replaces materializing the token array + per-element
    # regex filters (~25% faster, same values).
    n_words = F.regexp_count(t, F.lit("[A-Za-z]+"))
    n_nums = F.regexp_count(t, F.lit("[0-9]+"))
    n_punct = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]+"))
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        cc["n_chars"].alias("n_chars_live"),
        cc["n_alpha"].alias("n_alpha"),
        cc["n_space"].alias("n_space"),
        X.stopword_hits(t).alias("n_stopwords"),
        (n_words + n_nums + n_punct).alias("n_bpe_tokens"),
        n_words.alias("n_word_tokens"),
        n_nums.alias("n_num_tokens"),
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,100]: length band + alpha ratio +
    stopword ratio, computed with exact integer arithmetic (portable).
    The expression lives in ``operators.text.quality_score`` (one source
    of truth shared with canonical-survivor selection; its SQL twin sits
    next to it so the pair can't drift apart)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.quality_score(F.col("text")).alias("quality_score")
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID: argmax language by marker hits, with
    deterministic alphabetical tie-break, 'und' when no marker hits.
    The argmax/tie-break policy lives in ``operators.text.add_pred_lang``
    (one source of truth shared with the curation composite; it stages
    the HOF scores as columns — see its docstring for why)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.add_pred_lang(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", "pred_lang"
    )


def q_text_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (md5 of normalized text) plus
    source-level fingerprint cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select("source", X.fingerprint(F.col("text")).alias("fp"))
    return (
        with_fp.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation gate — the composition a training-data
    pipeline actually ships: keep a document iff it is (a) the
    exact-dedup survivor of its content-fingerprint group, (b)
    identified as English, and (c) above the quality bar. The stages
    share one shuffle key (doc_id — co-partitioned at scale); each
    stage is separately oracle-checked, the composition checked here.

    Stage ORDER is the scale decision (r9): survivors are selected
    FIRST (one fingerprint hash-aggregate with map-side partial min —
    cheaper than the former window over (doc_id, fp) rows), and the
    expensive quality/lang scoring runs over SURVIVORS ONLY. Scoring
    is per-doc and deterministic, so pre- vs post-join evaluation is
    semantically identical — but on a duplicate-heavy corpus (the
    sf fixtures are 10x-cloned; real crawls are worse) scoring before
    deduplicating wastes the clone factor. sf1: 11.5 -> 3.0 s warm.
    The DuckDB oracle keeps the score-everything-then-join expression,
    so the driver hash check verifies the reorder."""
    docs = load_table(spark, sf_dir, "documents")
    # min_by carries the survivor's RAW text through the same aggregate
    # (fingerprint groups can span different raw texts — it hashes the
    # NORMALIZED text — so first() would be nondeterministic here; the
    # survivor rule is min doc_id, so min_by is the exact text), saving
    # the doc_id-join that would re-shuffle the full corpus a second
    # time just to re-attach texts
    kept = (
        docs.select("doc_id", "text", X.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .select("doc_id", "text")
    )
    return (
        X.add_pred_lang(kept)
        .select(
            "doc_id",
            X.quality_score(F.col("text")).alias("quality_score"),
            "pred_lang",
        )
        .filter((F.col("quality_score") >= 70) & (F.col("pred_lang") == "en"))
        .select("doc_id", "pred_lang", "quality_score")
    )


TFIDF_TOP = 3  # salient terms per source


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source salient terms: rank tokens by tf-idf where tf is the
    token's count within the source and idf is n_docs/df (df = global
    document frequency). The score stays ENGINE-EXACT: tf * n_docs is
    exact integer arithmetic and the single double division of two
    exact ints is IEEE-identical everywhere, so the ranking (score
    desc, token asc) hash-matches the oracle without float tolerance.
    Shapes: one explode + two token-keyed aggregates + a broadcast
    one-row scalar + a per-source window — at 100 TB every shuffle key
    is the token (uniform) or the source (bounded)."""
    from pyspark.sql import Window

    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_nonempty (r16, the shared owner): no inferred size>0
    # filter, so the tokenizer regexp runs once per row; the length
    # gate subsumes the null kill (length(NULL) is NULL)
    toks = explode_nonempty(
        docs, ["doc_id", "source"], normalized_tokens(F.col("text")),
        "tok", keep=F.length("tok") > 0,
    )
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("tf"))
    df_ = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("source", "tok", "tf", "df", "rank")
        .orderBy("source", "rank")
    )


REP_TOP_WORD_PCT = 12  # Gopher-style: flag if top word > 12% of words
REP_DUP_BIGRAM_PCT = 10  # flag if >10% of bigrams are repeats
CHUNK_W, CHUNK_S = 32, 24  # context window of 32 tokens, stride 24


def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher/MassiveText rule
    family, arXiv:2112.11446 §A.1.1, adapted to the fixture's
    single-line corpus): per document, the most-frequent-word share and
    the duplicate-bigram share, with integer-percent thresholds. Word
    and bigram stats are explode + one groupBy(doc_id) each — the
    shuffle key is doc_id, so at 100 TB this co-partitions with the
    corpus and never concentrates (no global state, no windows)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    words = docs.select("doc_id", F.explode(ws).alias("w"))
    top = (
        words.groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"), F.sum("count").alias("n_words"))
    )
    # zip_with of shifted slices, not element_at in a transform lambda:
    # an outer-column reference inside a HOF lambda re-splits the text
    # per element (see curation.word_ngrams)
    bg_len = F.greatest(F.size(ws) - 1, F.lit(0))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, bg_len),
            F.slice(ws, 2, bg_len),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # single-word docs have no bigrams -> explode drops them -> the
    # inner join drops them from the gate (same as the SQL oracle)
    grams = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    dup = grams.groupBy("doc_id").agg(
        (F.count("*") - F.count_distinct("bg")).alias("dup_bg"),
        F.count("*").alias("n_bg"),
    )
    return (
        top.join(dup, "doc_id")
        .select(
            "doc_id",
            F.floor(F.col("top_cnt") * 100 / F.col("n_words"))
            .cast("long")
            .alias("top_word_pct"),
            F.floor(F.col("dup_bg") * 100 / F.col("n_bg"))
            .cast("long")
            .alias("dup_bigram_pct"),
            (
                (F.col("top_cnt") * 100 <= F.col("n_words") * REP_TOP_WORD_PCT)
                & (F.col("dup_bg") * 100 <= F.col("n_bg") * REP_DUP_BIGRAM_PCT)
            ).alias("keep"),
        )
    )


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap (the retrieval/training
    counterpart of sequence packing): each document becomes
    ceil-covering windows of CHUNK_W tokens at stride CHUNK_S, each
    chunk carrying its token offset, length, and content md5. Pure
    per-row array fan-out (sequence + transform + explode) — no
    shuffle, chunks inherit the corpus partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    # chunk starts: 0, S, 2S, ... while start < n (always >= 1 chunk)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - CHUNK_W) / F.lit(CHUNK_S)).cast("int") + 1
    )
    chunked = docs.select(
        "doc_id",
        ws.alias("ws"),
        n.alias("n_toks_doc"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_S
    length = F.least(F.lit(CHUNK_W), F.col("n_toks_doc") - start)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("tok_start"),
        length.cast("long").alias("n_toks"),
        F.md5(F.array_join(F.slice(F.col("ws"), start + 1, length), " ")).alias(
            "chunk_md5"
        ),
    )


HH_PHI = 0.0013  # heavy-hitter frequency threshold (fraction of all bigrams)


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: word bigrams occurring in more than
    HH_PHI of all bigram positions, with EXACT counts, computed the
    sketch way — per-partition Misra-Gries summaries (mapInPandas,
    O(k) state) whose union provably contains every qualifying item,
    then an exact count of candidates only (broadcast semi-join).

    The plain GROUP-BY-HAVING (which the oracle states) shuffles every
    distinct term; at 100 TB the long tail of rare terms dominates that
    shuffle and exists only to be discarded. The sketch path's shuffle
    carries candidates alone (<= k rows per partition), and because the
    second pass recounts exactly, the sketch's approximation never
    reaches the output — same rows, same counts, different cost shape
    (operators/frequent.py has the guarantee arithmetic).

    r9: routed through exact text dedup as a WEIGHTED stream — bigram
    multisets are text-functions, so the corpus stream equals the
    distinct-text stream weighted by clone count, and both the MG
    summaries and the exact recount consume weights natively
    (``heavy_hitters_exact(weight_col=...)``; the PODS'12 merge bound
    is already stated over arbitrary non-negative increments).

    HONEST measurement: wall-NEUTRAL at sf1 (same-host A/B 12.5 vs
    12.6 s — the dedup's text shuffle offsets the saved member-level
    explode at clone factor 10; contrast decontamination, where the
    saved work is md5-hashing every n-gram and routing wins 5x). The
    routing is kept for the stream SHAPE: the Arrow transfer into the
    Python MG pass and the candidate recount are clone-factor-
    independent, which is what survives a deep-clone crawl. The
    member-level GROUP-BY-HAVING oracle is unrouted and unweighted, so
    the driver hash check verifies both the routing and the
    weighted-sketch arithmetic."""
    from ..operators.dedup import exact_text_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reps, mem = exact_text_dedup(docs)
    weights = mem.groupBy("_rid").agg(F.count("*").alias("w"))
    items = (
        reps.select(F.col("doc_id").alias("_rid"), "text")
        .join(weights, "_rid")
        .select(F.explode(C.word_ngrams(F.col("text"), 2)).alias("bigram"), "w")
    )
    return FR.heavy_hitters_exact(items, "bigram", HH_PHI, weight_col="w")




def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / intl phones / IPv4 -> typed tokens), the
    C4/CCNet-style step between raw corpus and training batches. The
    fixture corpus carries no PII-shaped strings (verified zero), so
    the query PLANTS a deterministic contact line per document with
    identical string ops in both engines — including the two
    ORDER-ADVERSARIAL shapes (an IP-literal-inside-domain email and a
    phone-shaped email local part) that make the oracle hash check
    FAIL if ``operators/text.PII_PATTERNS``' order is changed or the
    per-category counts stop being progressive (r11 review: the first
    plant exercised only disjoint matches, leaving the order contract
    test-unasserted). Pure JVM regexp chain, no shuffle, scales as a
    map over the scan at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".com tel +1555"),
            F.lpad((F.col("doc_id") % 100000).cast("string"), 7, "0"),
            F.lit(" host 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.2 cc b@1.2.3.4.com y+15551234567@ex.com"),
        ).alias("t"),
    )
    scrub = X.pii_scrub(F.col("t"))
    return planted.select(
        "doc_id",
        scrub["email"].alias("n_emails"),
        scrub["phone"].alias("n_phones"),
        scrub["ipv4"].alias("n_ipv4"),
        F.md5(scrub["redacted"]).alias("redacted_md5"),
    )


QUERIES = {
    "q_text_token_stats": q_text_token_stats,
    "q_text_quality_score": q_text_quality_score,
    "q_text_lang_id": q_text_lang_id,
    "q_text_fingerprint_groups": q_text_fingerprint_groups,
    # promoted r6: the end-to-end curation composite is an LLM-pipeline
    # flagship (quality gate + lang gate + fingerprint dedup in one
    # plan); full oracle below
    "q_corpus_curation": q_corpus_curation,
}

_TOKENS = X.token_count_sql("text")
_STOPS = X.stopword_hits_sql("text")

_LANG_SCORE_COLS = ",\n  ".join(
    f"{X.lang_score_sql('text', markers)} AS s_{lang}"
    for lang, markers in sorted(X.LANG_MARKERS.items())
)
_LANGS = sorted(X.LANG_MARKERS)
_BEST = "GREATEST(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
_PRED_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = {_BEST} AND {_BEST} > 0 THEN '{lang}'" for lang in _LANGS
    )
    + " ELSE 'und' END"
)

ORACLES = {
    "q_text_token_stats": f"""
SELECT doc_id,
  {_TOKENS} AS n_tokens,
  LENGTH(text) AS n_chars_live,
  LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
  LENGTH(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
  {_STOPS} AS n_stopwords,
  LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS n_bpe_tokens,
  LEN(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'),
      t -> regexp_matches(t, '^[A-Za-z]+$'))) AS n_word_tokens,
  LEN(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'),
      t -> regexp_matches(t, '^[0-9]+$'))) AS n_num_tokens
FROM documents
""",
    "q_text_quality_score": f"""
SELECT doc_id, {X.quality_score_sql('text')} AS quality_score
FROM documents
""",
    "q_text_lang_id": f"""
WITH scored AS (
  SELECT doc_id, lang,
  {_LANG_SCORE_COLS}
  FROM documents
)
SELECT doc_id, lang, {_PRED_CASE} AS pred_lang FROM scored
""",
    "q_text_fingerprint_groups": f"""
SELECT source, COUNT(*) AS n_docs,
  COUNT(DISTINCT {X.fingerprint_sql('text')}) AS n_distinct_fp
FROM documents
GROUP BY source
""",
}

EXTRA_QUERIES = {
    # Gopher-style repetition gate: sibling of registered q_text_quality_score
    "q_text_repetition_filter": q_text_repetition_filter,
    # context-window chunking: sibling of +extra q_pack_sequences
    "q_text_chunk_windows": q_text_chunk_windows,
    # per-source tf-idf salient terms (exact-arithmetic ranking)
    "q_text_tfidf_topk": q_text_tfidf_topk,
    # heavy hitters: MG-sketch candidates + exact recount (plain
    # GROUP-BY-HAVING oracle below)
    "q_text_heavy_hitters": q_text_heavy_hitters,
}

EXTRA_ORACLES = {
    "q_text_repetition_filter": f"""
WITH wx AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
top AS (
  SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_words
  FROM (SELECT doc_id, w, COUNT(*) AS c FROM wx GROUP BY doc_id, w)
  GROUP BY doc_id
),
g AS (
  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       unnest(range(1, len(ws))) AS t(i)
),
dup AS (
  SELECT doc_id, COUNT(*) - COUNT(DISTINCT bg) AS dup_bg, COUNT(*) AS n_bg
  FROM g GROUP BY doc_id
)
SELECT top.doc_id,
  CAST(floor(top_cnt * 100.0 / n_words) AS BIGINT) AS top_word_pct,
  CAST(floor(dup_bg * 100.0 / n_bg) AS BIGINT) AS dup_bigram_pct,
  (top_cnt * 100 <= n_words * {REP_TOP_WORD_PCT}
   AND dup_bg * 100 <= n_bg * {REP_DUP_BIGRAM_PCT}) AS keep
FROM top JOIN dup ON top.doc_id = dup.doc_id
""",
    "q_text_chunk_windows": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
    len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, ws, n,
    unnest(range(0, GREATEST(1,
      CAST(ceil((n - {CHUNK_W}) / {CHUNK_S}.0) AS BIGINT) + 1))) AS chunk_id
  FROM w
)
SELECT doc_id,
  CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(chunk_id * {CHUNK_S} AS BIGINT) AS tok_start,
  CAST(LEAST({CHUNK_W}, n - chunk_id * {CHUNK_S}) AS BIGINT) AS n_toks,
  md5(array_to_string(
    ws[CAST(chunk_id * {CHUNK_S} + 1 AS INT)
       : CAST(chunk_id * {CHUNK_S} + LEAST({CHUNK_W}, n - chunk_id * {CHUNK_S}) AS INT)],
    ' ')) AS chunk_md5
FROM c
""",
    "q_corpus_curation": f"""
WITH q AS (
  SELECT doc_id, {X.quality_score_sql('text')} AS quality_score
  FROM documents
),
scored AS (
  SELECT doc_id,
  {_LANG_SCORE_COLS}
  FROM documents
),
l AS (SELECT doc_id, {_PRED_CASE} AS pred_lang FROM scored),
s AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      MIN(doc_id) OVER (PARTITION BY {X.fingerprint_sql('text')}) AS keep
    FROM documents
  ) WHERE doc_id = keep
)
SELECT q.doc_id, l.pred_lang, q.quality_score
FROM q JOIN l USING (doc_id) JOIN s USING (doc_id)
WHERE q.quality_score >= 70 AND l.pred_lang = 'en'
""",
}

# promoted r6: q_corpus_curation is a registered driver row again
ORACLES["q_corpus_curation"] = EXTRA_ORACLES.pop("q_corpus_curation")

from ..operators.dedup import normalized_tokens_sql as _NT_SQL  # noqa: E402

EXTRA_ORACLES["q_text_tfidf_topk"] = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_NT_SQL('text')}) AS tok FROM documents
),
toks2 AS (SELECT * FROM toks WHERE LENGTH(tok) > 0),
tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks2 GROUP BY source, tok),
df AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks2) GROUP BY tok
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.tok, tf.tf, df.df,
         CAST(tf.tf * nd.n_docs AS DOUBLE) / df.df AS score
  FROM tf JOIN df USING (tok) CROSS JOIN nd
),
ranked AS (
  SELECT source, tok, tf, df,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, tok ASC) AS rank
  FROM scored
)
SELECT source, tok, tf, df, rank FROM ranked WHERE rank <= {TFIDF_TOP}
ORDER BY source, rank
"""

EXTRA_ORACLES["q_text_heavy_hitters"] = f"""
WITH bg AS (
  SELECT unnest({C.word_ngrams_sql('text', 2)}) AS bigram FROM documents
)
SELECT bigram, COUNT(*) AS n_occurrences
FROM bg GROUP BY bigram
HAVING COUNT(*) > {HH_PHI} * (SELECT COUNT(*) FROM bg)
"""


COLLOC_MIN_COUNT = 5  # keep bigrams seen at least this often


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide collocation mining: for every adjacent word pair
    seen >= COLLOC_MIN_COUNT times, its pointwise-mutual-information
    LIFT  P(w1 w2) / (P(w1) P(w2))  — the association score (PMI is its
    log; lift is emitted because it needs NO transcendental call, so
    Spark and DuckDB agree bit-for-bit: exact bigint counts, identical
    left-associated double products, one IEEE division).

    Shape: one normalize pass feeding an explode->count for unigrams
    and a zip_with bigram explode->count; the bigram table then takes
    two BROADCAST joins against the unigram counts (vocabulary-sized —
    bounded, tiny next to the corpus) and broadcast one-row totals. At
    100 TB the only corpus-sized shuffles are the two count
    aggregations; the scoring join moves vocabulary-sized data only."""
    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenizer owns both the unigram and bigram streams: the
    # canonical dedup.normalized_tokens, projected once so the HOF
    # n-gram args read a cheap column, not the regexp subtree
    normed = docs.select(normalized_tokens(F.col("text")).alias("toks"))

    toks = normed.select(F.explode("toks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = toks.agg(F.count("*").alias("t_total"))

    bg = normed.select(
        F.explode(C.ngrams_from_tokens(F.col("toks"), 2)).alias("bigram")
    )
    bgc = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= COLLOC_MIN_COUNT)
    )
    btot = bg.agg(F.count("*").alias("b_total"))

    parts = F.split("bigram", " ")
    sp = bgc.select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"), "n_ab"
    )
    ua = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    d = F.col  # noqa: E741 - brevity below
    lift = (
        d("n_ab").cast("double")
        * d("t_total").cast("double")
        * d("t_total").cast("double")
    ) / (
        d("b_total").cast("double")
        * d("n_a").cast("double")
        * d("n_b").cast("double")
    )
    return (
        sp.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "n_ab", lift.alias("lift"))
    )


EXTRA_QUERIES["q_text_collocations"] = q_text_collocations
EXTRA_ORACLES["q_text_collocations"] = f"""
WITH norm AS (SELECT {_NT_SQL('text')} AS toks FROM documents),
toks AS (SELECT unnest(toks) AS tok FROM norm),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS t_total FROM toks),
bg AS (SELECT unnest({C.ngrams_from_tokens_sql('toks', 2)}) AS bigram FROM norm),
btot AS (SELECT COUNT(*) AS b_total FROM bg),
bgc AS (
  SELECT bigram, COUNT(*) AS n_ab FROM bg GROUP BY bigram
  HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
),
sp AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2, n_ab
  FROM bgc
)
SELECT sp.w1, sp.w2, sp.n_ab,
  (CAST(sp.n_ab AS DOUBLE) * CAST(t.t_total AS DOUBLE)
     * CAST(t.t_total AS DOUBLE))
  / (CAST(bt.b_total AS DOUBLE) * CAST(ua.n AS DOUBLE)
     * CAST(ub.n AS DOUBLE)) AS lift
FROM sp
JOIN uni ua ON ua.tok = sp.w1
JOIN uni ub ON ub.tok = sp.w2
CROSS JOIN tot t
CROSS JOIN btot bt
"""


VOCAB_N = 30   # top-N tokens by corpus frequency form the vocabulary
UNK_ID = -1    # out-of-vocabulary marker


def q_text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding — the tokenize step of a training pipeline:
    build a corpus-frequency vocabulary (top VOCAB_N tokens, rank order
    count desc / token asc, ids 0..N-1), then encode every document as
    its position-ordered token-id array with UNK_ID for OOV tokens.
    Returns (doc_id, token_ids, n_tokens, n_unk).

    Shapes: one explode -> token-keyed count for the vocab (bounded
    output), ONE global row_number over the vocab — a SinglePartition
    window over VOCAB-sized rows, which is bounded and scale-free by
    construction, never corpus-sized — then a broadcast join against
    the exploded corpus and a doc_id-keyed re-assembly (array_sort of
    (pos, id) structs, so no within-group sort shuffle beyond the one
    hash aggregate)."""
    from pyspark.sql import Window

    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_nonempty (r16, the shared owner): evaluates the tokenizer
    # once per row instead of three times (no inferred filter)
    toks = explode_nonempty(
        docs, ["doc_id"], normalized_tokens(F.col("text")), "tok",
        pos_alias="pos",
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "token_id",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
            )
            - 1,
        )
        .where(F.col("token_id") < VOCAB_N)
        .select("tok", "token_id")
    )
    encoded = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(UNK_ID)).alias("tid"),
    )
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x.tid,
            ).alias("token_ids"),
            F.count("*").alias("n_tokens"),
            F.sum((F.col("tid") == UNK_ID).cast("long")).alias("n_unk"),
        )
    )


EXTRA_QUERIES["q_text_token_ids"] = q_text_token_ids
EXTRA_ORACLES["q_text_token_ids"] = f"""
WITH arr AS (
  SELECT doc_id, {_NT_SQL('text')} AS a FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS pos, a[i] AS tok
  FROM arr, LATERAL (SELECT unnest(range(1, LEN(a) + 1)) AS i)
),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) - 1
           AS token_id
  FROM toks GROUP BY tok
  QUALIFY token_id < {VOCAB_N}
),
encoded AS (
  SELECT t.doc_id, t.pos, COALESCE(v.token_id, {UNK_ID}) AS tid
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
)
SELECT doc_id,
       CAST(list(tid ORDER BY pos) AS INT[]) AS token_ids,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN tid = {UNK_ID} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk
FROM encoded GROUP BY doc_id
"""


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 4


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/text.py
    chunk_documents): the context-window prep step before embedding /
    packing — whitespace tokens, stride = chunk - overlap, tail chunks
    always add new tokens, blank docs drop. Pure map-side codegen
    (split + sequence + posexplode + slice), zero shuffles."""
    from ..operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk=CHUNK_TOKENS, overlap=CHUNK_OVERLAP)


EXTRA_QUERIES["q_doc_chunking"] = q_doc_chunking

from ..operators.text import chunk_documents_sql as _chunk_sql  # noqa: E402

EXTRA_ORACLES["q_doc_chunking"] = _chunk_sql(CHUNK_TOKENS, CHUNK_OVERLAP)

_PII_PLANT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@ex' || "
    "CAST(doc_id % 10 AS VARCHAR) || '.com tel +1555' || "
    "lpad(CAST(doc_id % 100000 AS VARCHAR), 7, '0') || ' host 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || "
    "'.0.2 cc b@1.2.3.4.com y+15551234567@ex.com'"
)
_PII_COUNTS = X.pii_scrub_sql("t")
EXTRA_QUERIES["q_text_pii_redact"] = q_text_pii_redact
EXTRA_ORACLES["q_text_pii_redact"] = f"""
WITH planted AS (SELECT doc_id, {_PII_PLANT} AS t FROM documents)
SELECT doc_id,
  {_PII_COUNTS['email']} AS n_emails,
  {_PII_COUNTS['phone']} AS n_phones,
  {_PII_COUNTS['ipv4']} AS n_ipv4,
  md5({_PII_COUNTS['redacted']}) AS redacted_md5
FROM planted
"""


# -- BM25 ranked retrieval --------------------------------------------------

BM25_QUERIES = (
    ("q1", "spark shuffle join"),
    ("q2", "window merge sort"),
    ("q3", "fast table scan stream"),
)
BM25_TOP = 10  # documents returned per query
# Okapi constants k1=1.2, b=0.75, folded into integer coefficients
# below (k1 = 6/5, b = 3/4 -> the 22/10/3/9 terms)


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-k documents per benchmark query
    string, Okapi weighting with k1=1.2, b=0.75 — the classic
    bag-of-words retrieval baseline a training-data pipeline uses for
    corpus probes and RAG-ish lookups (Robertson & Zaragoza 2009).

    ENGINE-EXACT by construction, two moves:

    1. The per-term score is algebraically rearranged into ONE IEEE
       division of two exact bigint products. With avgdl = S/N (S =
       corpus token count, N = corpus docs) and the log-free odds-lift
       idf (N - df + 0.5)/(df + 0.5) — same transcendental-free
       convention as q_text_collocations' lift-for-PMI; emitting ln of
       it would hash-differ between JVM and C math libraries —
       multiplying numerator and denominator by 10*S*2 gives

         score_t = (22*tf*S * (2N - 2df + 1))
                 / ((10*tf*S + 3*S + 9*dl*N) * (2df + 1))

       every factor an exact bigint (headroom: the numerator tops out
       ~4e17 at sf10; beyond that the products need a decimal cast).
    2. The per-document SUM over matched query terms is a fold-left
       over the tok-SORTED score list (F.aggregate over
       array_sort(collect_list(...)), list_reduce over
       LIST(... ORDER BY tok) in the oracle) — a bare SUM(double) is
       accumulation-order-dependent and order differs between engines
       and across partitionings; the sorted fold adds in ONE defined
       order, so the doubles are bit-identical.

    Shapes for 100 TB: tf/dl/df are single explode + token- or
    doc-keyed aggregates (uniform keys); the query-term and
    query-restricted df frames are broadcast (a query list is
    human-sized); the only corpus-scale join is matched-terms ⋈ dl on
    doc_id. Ranking is a per-query-id window over at most |corpus|
    candidate docs, cut to BM25_TOP with a deterministic
    (score desc, doc_id) tie-break."""
    from pyspark.sql import Window

    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_nonempty (r16, the shared owner): one tokenizer
    # evaluation per row; the length gate subsumes the null kill
    toks = explode_nonempty(
        docs, ["doc_id"], normalized_tokens(F.col("text")), "tok",
        keep=F.length("tok") > 0,
    )
    # ONE full-corpus aggregate (tf), everything corpus-wide derived
    # from it: dl = SUM(tf) per doc (exact-integer-equal to counting
    # raw tokens), s_tokens = SUM(dl). The raw token stream is never
    # re-aggregated, and the full-VOCABULARY distinct the naive df
    # needs is gone — df is counted AFTER the query-vocab restriction
    # (tf rows are distinct (doc, tok) by construction, so COUNT(*)
    # per tok over the restricted slice IS the document frequency).
    # The DuckDB oracle keeps the naive full-vocabulary expression, so
    # the driver hash check verifies the restructure. tf fans out to
    # three consumers unstaged — stage(tf) measured wall-neutral at sf1
    # (5.9 vs 6.0 s warm; the shuffle fixed costs dominate at these
    # SFs), and the INCREMENTAL store (operators/bm25_index.py) is the
    # scale path that persists tf/dl outright — this plan is its oracle
    # twin.
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        dl.agg(F.sum("dl").cast("long").alias("s_tokens"))
    )
    # query strings tokenize through the SAME normalizer as the corpus
    # (one shared rule — a raw str.split here would silently diverge
    # from the store's topk on any punctuated/cased query; r12 review).
    # Built as a SQL VALUES relation, not createDataFrame (r16, guide
    # §4): PySpark's createDataFrame backs a local list with a PYTHON
    # RDD, and this frame is scanned four times in the plan — each scan
    # fanned defaultParallelism Python-worker tasks doing nothing (two
    # ~6 s-of-task-time stages at 0.2 s CPU in the profile). A VALUES
    # literal is a pure-JVM LocalRelation: zero tasks, no Python
    # boundary, same rows (strings ride the Spark SQL escaper).
    qraw = spark.sql(
        "SELECT query_id, qtext FROM VALUES "
        + ", ".join(
            f"({X._spark_sql_quote(qid)}, {X._spark_sql_quote(q)})"
            for qid, q in BM25_QUERIES
        )
        + " AS t(query_id, qtext)"
    )
    qterms = X.bm25_query_terms(qraw)
    tf_q = tf.join(F.broadcast(qterms.select("tok").distinct()), "tok")
    dfq = tf_q.groupBy("tok").agg(F.count("*").alias("df"))
    matched = (
        tf_q.join(F.broadcast(qterms), "tok")
        .join(F.broadcast(dfq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # scoring arithmetic + ordered fold SHARED with the incremental
    # retrieval store (operators/text.bm25_*): the store's topk is
    # contract-bound bit-identical to this full-corpus plan
    scored = matched.withColumn(
        "score_t",
        X.bm25_term_score(
            F.col("tf"),
            F.col("dl"),
            F.col("df"),
            F.col("n_docs"),
            F.col("s_tokens"),
        ),
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        X.bm25_fold_scores(F.col("tok"), F.col("score_t")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP)
        .select("query_id", "doc_id", "score", "rank")
        .orderBy("query_id", "rank")
    )


# promoted to the driver registry r13 (judge #2: the r12 flagship
# families deserve driver-grade rows; q4_late_orders freed the slot)
QUERIES["q_text_bm25_topk"] = q_text_bm25_topk

# RAW query strings, quoted through the shared escaper (r11 advice
# class: naked interpolation tears the literal on any apostrophe) —
# the oracle tokenizes them through the same normalizer SQL as the
# corpus, so the term derivation has ONE rule in both engines
_BM25_QVALS = ", ".join(
    f"({X._sql_quote(qid)}, {X._sql_quote(q)})" for qid, q in BM25_QUERIES
)

ORACLES["q_text_bm25_topk"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_NT_SQL('text')}) AS tok FROM documents
),
toks2 AS (SELECT * FROM toks WHERE LENGTH(tok) > 0),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id),
dfreq AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks2) GROUP BY tok
),
stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM toks2) AS s_tokens
),
qraw(query_id, qtext) AS (VALUES {_BM25_QVALS}),
qterms AS (
  SELECT DISTINCT query_id, tok FROM (
    SELECT query_id, unnest({_NT_SQL('qtext')}) AS tok FROM qraw
  ) WHERE LENGTH(tok) > 0
),
scored AS (
  SELECT q.query_id, tf.doc_id, tf.tok,
    {X.bm25_term_score_sql('tf.tf', 'dl.dl', 'd.df', 's.n_docs', 's.s_tokens')}
      AS score_t
  FROM tf JOIN qterms q USING (tok) JOIN dfreq d USING (tok)
       JOIN dl USING (doc_id) CROSS JOIN stats s
),
folded AS (
  SELECT query_id, doc_id,
    {X.bm25_fold_scores_sql('score_t', 'tok')} AS score
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id ASC
    ) AS rank
  FROM folded
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {BM25_TOP}
ORDER BY query_id, rank
"""


# -- span-level duplicate detection -----------------------------------------

DUP_SPAN_W = 5       # window width in whitespace tokens
DUP_SPAN_MIN = 2     # a window is "duplicated" at this many occurrences


def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level repeated-text detection — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) family, adapted from suffix arrays to a
    Spark-native windowed form: a token position is DUPLICATED when
    any corpus-wide repeated W-token window covers it (within-doc
    repetitions count — a doc repeating its own boilerplate is
    duplicated text). Emits per doc the token count, the covered-token
    count, and the duplicated fraction — the signal a curation
    pipeline thresholds to CUT spans rather than drop whole documents
    (doc-level near-dup keeps a doc with one viral paragraph; this
    finds the paragraph).

    ROUTED through distinct texts (the r9 law): windows, coverage,
    and token counts are functions of the TEXT alone, and the
    corpus-wide occurrence count of a window fans out as
    per-distinct-text count × clone multiplicity — so the gram
    explosion (the wall, measured) runs once per DISTINCT text and
    verdicts fan back over the md5 routing key. On the 10x-cloned
    fixture that is 10x less map work (sf1 27.0 -> 5.9 s warm); the
    UNROUTED oracle below independently verifies the routing. A
    hash60 window key was also measured and REJECTED (md5 per window
    cost more than the string shuffle it saved: 27.0 -> 32.7 s).

    Covered tokens per text are a PER-TEXT INTERVAL-UNION FOLD over
    the sorted duplicated-window starts (equal-length-W intervals:
    |union| = Σ min(W, p_{i+1} - p_i) with a -W sentinel) — exact
    integers, no W× explode, no distinct exchange; the oracle keeps
    the naive explode+distinct shape so the hash check verifies the
    identity. The final fraction is ONE IEEE division of exact ints
    (zero-token docs guarded to 0.0 in both engines).

    Scale shapes: shuffles key on the text hash (uniform md5) and the
    window text (uniform); the HAVING >= 2 cut bounds the coverage
    work to duplicated windows, so a mostly-unique 100 TB corpus pays
    almost nothing past the one distinct."""
    docs = load_table(spark, sf_dir, "documents")
    # shared routed core + fold (operators/curation.py — one rule for
    # the detector, the cutter, and the streaming span gate); spread =
    # scan-split-conditioned kernel fan-out (r16, None at real scale)
    members, reps, wins, dup = C.routed_dup_windows(
        docs, "text", DUP_SPAN_W, DUP_SPAN_MIN,
        spread=kernel_spread(spark, sf_dir, "documents"),
    )
    pertext = (
        wins.join(dup, "gram")
        .groupBy("_th")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps"))
        .select(
            "_th",
            C.interval_union_len(F.col("ps"), DUP_SPAN_W).alias(
                "n_dup_tokens"
            ),
        )
    )
    tokc = reps.select(
        "_th", X.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return (
        members.join(tokc, "_th")
        .join(pertext, "_th", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias(
                "n_dup_tokens"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_tokens",
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                (100 * F.col("n_dup_tokens")).cast("double")
                / F.col("n_tokens").cast("double")
            )
            .alias("dup_pct"),
        )
        .orderBy("doc_id")
    )


# promoted to the driver registry r13 (judge #2; cdc_merge_delta_only
# freed the slot)
QUERIES["q_text_dup_spans"] = q_text_dup_spans

ORACLES["q_text_dup_spans"] = f"""
WITH g AS (
  SELECT doc_id, {C.word_ngrams_sql('text', DUP_SPAN_W)} AS grams
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos, grams[i + 1] AS gram
  FROM g, unnest(range(LEN(grams))) AS u(i)
),
dup AS (
  SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) >= {DUP_SPAN_MIN}
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS tokpos
  FROM wins JOIN dup USING (gram), unnest(range({DUP_SPAN_W})) AS r(j)
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_dup_tokens FROM covered GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST({X.token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
  CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
  CASE WHEN b.n_tokens = 0 THEN 0.0
       ELSE CAST(100 * COALESCE(p.n_dup_tokens, 0) AS DOUBLE)
            / CAST(b.n_tokens AS DOUBLE) END AS dup_pct
FROM base b LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id
"""


def q_text_cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT half of span-level dedup (companion to
    ``q_text_dup_spans``): emit each document's cleaned text with every
    token covered by a corpus-wide duplicated W-window REMOVED — what
    the Lee et al. pipeline actually writes back to the corpus, instead
    of dropping whole documents.

    ROUTED like the detector (one gram explosion per DISTINCT text,
    verdicts fan out over the md5 routing key against the UNROUTED
    oracle). The cut itself is relational, not per-token lambda work:
    rep-level token positions ANTI-JOIN the covered-position set (the
    W× interval explode runs only on duplicated windows), survivors
    re-assemble with an array_sort over (pos, tok) structs + transform
    + array_join — deterministic order by construction, no window over
    a single partition, every shuffle keyed by the text hash.

    Engine-exact output: token order is positional in both engines
    (struct-sort here, ``STRING_AGG(... ORDER BY tokpos)`` in DuckDB),
    fully-cut and blank docs coalesce to '' on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    # shared routed core (operators/curation.py — one rule with the
    # detector and the streaming span gate); spread = scan-split-
    # conditioned kernel fan-out (r16, None at real scale)
    members, reps, wins, dup = C.routed_dup_windows(
        docs, "text", DUP_SPAN_W, DUP_SPAN_MIN,
        spread=kernel_spread(spark, sf_dir, "documents"),
    )
    toks = F.split(
        F.regexp_replace(F.col("text"), r"^\s+|\s+$", ""), r"\s+"
    )
    allpos = reps.select(
        "_th", F.posexplode(toks).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    covered = wins.join(dup, "gram").select(
        "_th",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + DUP_SPAN_W - 1)
        ).alias("pos"),
    ).distinct()
    kept = allpos.join(covered, ["_th", "pos"], "left_anti")
    clean = kept.groupBy("_th").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept_tokens"),
    )
    tokc = reps.select(
        "_th", X.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return (
        members.join(tokc, "_th")
        .join(clean, "_th", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept_tokens"), F.lit(0)).cast("long").alias(
                "n_kept_tokens"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


EXTRA_QUERIES["q_text_cut_dup_spans"] = q_text_cut_dup_spans

EXTRA_ORACLES["q_text_cut_dup_spans"] = f"""
WITH g AS (
  SELECT doc_id,
    regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                          '\\s+') AS toks,
    {C.word_ngrams_sql('text', DUP_SPAN_W)} AS grams
  FROM documents
),
allpos AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM g, unnest(range(LEN(toks))) AS u(i)
  WHERE toks[i + 1] <> ''
),
wins AS (
  SELECT doc_id, i AS pos, grams[i + 1] AS gram
  FROM g, unnest(range(LEN(grams))) AS u(i)
),
dup AS (
  SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) >= {DUP_SPAN_MIN}
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS pos
  FROM wins JOIN dup USING (gram), unnest(range({DUP_SPAN_W})) AS r(j)
),
kept AS (
  SELECT a.doc_id, a.pos, a.tok
  FROM allpos a ANTI JOIN covered c USING (doc_id, pos)
),
clean AS (
  SELECT doc_id,
    STRING_AGG(tok, ' ' ORDER BY pos) AS clean_text,
    COUNT(*) AS n_kept_tokens
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST({X.token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
  CAST(COALESCE(c.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
  COALESCE(c.clean_text, '') AS clean_text
FROM base b LEFT JOIN clean c USING (doc_id)
ORDER BY b.doc_id
"""


# -- BPE tokenizer training (r13) -------------------------------------------
# Iterative algorithm (one argmax + one merge per round) — genuinely
# non-SQL-expressible, so this extra carries NO DuckDB oracle and takes
# the driver's weaker rows-only check; the EXACT oracle lives in
# tests/test_bpe.py as a pure-Python reference implementation whose
# merge sequence and segmentation the Spark trainer must match bit for
# bit (deterministic count-desc/lexicographic tie-break).

BPE_MERGES = 16


def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE subword vocabulary over the documents corpus and
    return the learned merge table in rank order — the tokenizer-
    TRAINING step of an LLM data pipeline (q_text_token_ids assigns
    ids from a fixed vocabulary; this LEARNS one). Corpus scanned
    once into word frequencies; every merge round is vocabulary-sized
    (``operators/bpe.py``)."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents").select("text")
    merges = bpe.train_bpe(bpe.word_counts(docs), BPE_MERGES)
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged, m.count) for m in merges],
        "rank int, left string, right string, merged string, pair_count long",
    ).orderBy("rank")


EXTRA_QUERIES["q_bpe_merge_table"] = q_bpe_merge_table

BPE_PACK_SEQ_LEN = 128


def _piece_vocab_ranked(seg, wc):
    """The trained piece->id table, ONE definition for both bpe plans
    (r15 review — two hand-synced copies of a correctness-bearing
    ranking can drift): pieces ranked by (corpus piece count DESC,
    piece ASC), ids 0..V-1. The window is a SinglePartition over
    PIECE-VOCAB rows — bounded by construction (chars + n_merges)."""
    from pyspark.sql import Window

    return (
        seg.join(wc, "word")
        .select(F.explode("pieces").alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .withColumn(
            "piece_id",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
            )
            - 1,
        )
        .select("piece", "piece_id")
    )


def q_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-tokenizer pipeline END TO END (r14, r13 verdict #4):
    corpus -> ``train_bpe`` -> ``segment_words`` -> piece-id assignment
    -> concat-and-chop packing — ids from a TRAINED subword vocabulary,
    not q_text_token_ids' fixed word-frequency one. Returns per doc:
    (doc_id, source, n_pieces, piece_ids, seq_id, offset_in_seq,
    spans_boundary).

    Pieces are ranked by (corpus piece count DESC, piece ASC) — a
    total order, ids 0..V-1; the trained vocabulary is CLOSED over the
    training corpus, so every encoded token resolves (no UNK id at
    train time). Packing is q_pack_sequences' per-source windowed
    concat-and-chop over PIECE counts. Like q_bpe_merge_table, the
    iterative trainer is not SQL-expressible — no DuckDB oracle; the
    EXACT oracle is the pure-Python pipeline in tests/test_bpe_pack.py.

    Scale shapes: one corpus scan for word frequencies; training on
    the vocabulary (driver-local under the threshold, distributed
    rounds above); segmentation + piece ranking are vocabulary-sized
    (the ranking window is a SinglePartition over VOCAB rows — bounded
    by construction); the corpus re-encode is one posexplode + two
    BROADCAST joins (word->pieces, vocabulary-sized and gated;
    piece->id, bounded by chars + BPE_MERGES, always broadcast)
    + one doc-keyed re-assembly; packing windows per source, never
    globally."""
    from pyspark.sql import Window

    from ..operators import bpe
    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs.select("text")).localCheckpoint()
    merges = bpe.train_bpe(wc, BPE_MERGES)
    # pinned: seg feeds BOTH the piece-vocab ranking and the corpus
    # re-encode join — without the cut the vocabulary-wide Python
    # segmentation pass would re-execute per plan branch (review pin;
    # vocabulary-sized, bounded, same rationale as wc above)
    seg = bpe.segment_words(wc.select("word"), merges).localCheckpoint()
    # the seg broadcast ships a VOCABULARY-sized frame — safe only
    # under the stated coupling to the driver-local training threshold
    # (r14 verdict #6): a vocabulary past it falls back to a shuffle
    # join, identical results. piece_vocab is NOT vocabulary-sized (at
    # most chars + BPE_MERGES rows by construction) so it broadcasts
    # unconditionally below (r15 review pass 2).
    hint = (
        F.broadcast
        if bpe.broadcast_vocab_ok(seg.count())
        else (lambda df: df)
    )
    piece_vocab = _piece_vocab_ranked(seg, wc)
    # explode_nonempty (r16, the shared owner): one tokenizer
    # evaluation per row; the blank-doc null row dies at the generate
    # (the blank-doc left join below keeps those docs, same as before)
    toks = explode_nonempty(
        docs, ["doc_id", "source"], normalized_tokens(F.col("text")),
        "word", pos_alias="pos",
    )
    encoded = (
        toks.join(hint(seg), "word")
        .select(
            "doc_id",
            "source",
            "pos",
            F.posexplode("pieces").alias("ppos", "piece"),
        )
        .join(F.broadcast(piece_vocab), "piece")
    )
    per_doc = encoded.groupBy("doc_id", "source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "ppos", "piece_id"))),
            lambda x: x.piece_id,
        ).alias("piece_ids"),
        F.count("*").cast("long").alias("n_pieces"),
    )
    # blank docs tokenize to nothing and vanish in the joins — packing
    # must still cover every doc (0-piece docs occupy no span)
    base = docs.select("doc_id", "source").join(
        per_doc, ["doc_id", "source"], "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce("piece_ids", F.array().cast("array<int>")).alias(
            "piece_ids"
        ),
        F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = base.withColumn(
        "start_offset", F.coalesce(F.sum("n_pieces").over(w), F.lit(0))
    )
    seq_id = F.floor(F.col("start_offset") / F.lit(BPE_PACK_SEQ_LEN))
    end = F.col("start_offset") + F.greatest(F.col("n_pieces"), F.lit(1)) - 1
    return staged.select(
        "doc_id",
        "source",
        "n_pieces",
        "piece_ids",
        seq_id.alias("seq_id"),
        (F.col("start_offset") % BPE_PACK_SEQ_LEN).alias("offset_in_seq"),
        (F.floor(end / F.lit(BPE_PACK_SEQ_LEN)) > seq_id)
        .cast("int")
        .alias("spans_boundary"),
    )


EXTRA_QUERIES["q_bpe_token_ids"] = q_bpe_token_ids


# constant encode-side probes over characters the synthetic fixtures
# never emit (Greek/Cyrillic) — guaranteed char-level OOV at any SF
OOV_PROBE_WORDS = ("δelta-φ", "мирный", "zzζζzz")


def q_bpe_encode_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-artifact REUSE path (r15, r14 verdict #3): train
    on HALF the corpus (even doc_ids), persist merges + piece vocab as
    the artifact would, then ENCODE the words of the OTHER half — a
    partially disjoint vocabulary — through ``bpe.encode_words``'
    vocab -> char-fallback -> UNK chain. Returns per encode-side word:
    (word, n_pieces, n_unk, first_id). ZERO dropped words by
    construction (asserted by the exact pure-Python oracle in
    tests/test_bpe_pack.py — the trainer is not SQL-expressible, so
    like the other bpe rows this has no DuckDB oracle).

    The corpus halves can fully share a vocabulary at small SFs (the
    fixtures clone texts), so ``OOV_PROBE_WORDS`` — constant words
    over characters outside the fixture alphabet — ride along on the
    encode side to keep the fallback chain exercised at every scale.

    Scale shapes: train-side is q_bpe_token_ids' shape; encode-side is
    one corpus scan -> distinct words -> one vocabulary-sized Python
    segmentation pass + two bounded broadcast joins."""
    from ..operators import bpe
    from ..operators.dedup import normalized_tokens

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    wc = bpe.word_counts(train).localCheckpoint()
    merges = bpe.train_bpe(wc, BPE_MERGES)
    seg = bpe.segment_words(wc.select("word"), merges).localCheckpoint()
    vocab_rows = _piece_vocab_ranked(seg, wc).collect()
    vocab = [(r["piece"], int(r["piece_id"])) for r in vocab_rows]
    unk_id = len(vocab)
    other_words = (
        explode_nonempty(
            # one tokenizer evaluation per row (r16 shared owner)
            docs.filter(F.col("doc_id") % 2 == 1),
            [],
            normalized_tokens(F.col("text")),
            "word",
            keep=F.length("word") > 0,
        )
        .unionByName(
            # VALUES relation, not createDataFrame (r16): the local
            # word list otherwise rides a 32-partition Python RDD whose
            # every scan spins Python workers (see the bm25 qraw note)
            spark.sql(
                "SELECT word FROM VALUES "
                + ", ".join(f"({X._spark_sql_quote(w)})" for w in OOV_PROBE_WORDS)
                + " AS t(word)"
            )
        )
        .distinct()
    )
    enc = bpe.encode_words(other_words, merges, vocab, unk_id=unk_id)
    return enc.select(
        "word",
        F.size("piece_ids").alias("n_pieces"),
        F.size(
            F.filter("piece_ids", lambda x: x == F.lit(unk_id))
        ).alias("n_unk"),
        F.element_at("piece_ids", 1).alias("first_id"),
    )


EXTRA_QUERIES["q_bpe_encode_oov"] = q_bpe_encode_oov
