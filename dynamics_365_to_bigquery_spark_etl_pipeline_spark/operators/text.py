"""Text-analysis operators for LLM training-data pipelines (BASELINE
north star; no counterpart in the reference, which has no row-level text
processing — SURVEY.md §2.7).

All operators are pure JVM-side column expressions (no Python UDFs), so
they stay inside whole-stage codegen and scale linearly with executors:
token counting, quality scoring, language-ID heuristics, and document
fingerprinting, each with an exact ANSI-SQL mirror for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic. Deterministic and SQL-mirrorable; real
# pipelines would swap in fastText/CLD3 via a Pandas UDF.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "zh": ("de", "shi", "le"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings. Regexp-trims
    because ``F.trim`` / DuckDB ``TRIM`` strip spaces only — a trailing
    tab would otherwise split into a phantom empty token (both engines
    identically, but still the wrong count)."""
    trimmed = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def token_count_sql(expr: str) -> str:
    t = f"regexp_replace({expr}, '^\\s+|\\s+$', '', 'g')"
    return (
        f"CASE WHEN LENGTH({t}) = 0 THEN 0 "
        f"ELSE LEN(regexp_split_to_array({t}, '\\s+')) END"
    )


def char_classes(text: Column) -> dict[str, Column]:
    """Character-class tallies used by quality scoring."""
    return {
        "n_chars": F.length(text),
        "n_alpha": F.length(F.regexp_replace(text, r"[^A-Za-z]", "")),
        "n_digit": F.length(F.regexp_replace(text, r"[^0-9]", "")),
        "n_punct": F.length(F.regexp_replace(text, r"[^.,;:!?]", "")),
        "n_space": F.length(F.regexp_replace(text, r"[^ ]", "")),
    }


def stopword_hits(text: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    """How many tokens are stopwords (exact word match, lowercased)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_hits_sql(expr: str, words: tuple[str, ...] = STOPWORDS) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return (
        f"LEN(list_filter(regexp_split_to_array(LOWER(TRIM({expr})), '\\s+'),"
        f" t -> t IN ({wl})))"
    )


def lang_score(text: Column, markers: tuple[str, ...]) -> Column:
    """Marker-token hit count for one language."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def add_pred_lang(
    df: "DataFrame", text_col: str = "text", out: str = "pred_lang"
) -> "DataFrame":
    """Append the predicted-language column: argmax of the per-language
    marker scores, alphabetical-earlier language wins ties, 'und' when
    nothing hits. SINGLE source of truth for the policy — shared by
    ``q_text_lang_id`` and the curation composite so the two can't
    drift apart (r9 review finding: the when-chain existed twice).

    DataFrame-level ON PURPOSE, not a Column expression: ``lang_score``
    is a tokenize+filter higher-order function, and LambdaVariable-
    bearing HOFs are excluded from Spark's subexpression elimination —
    inlining the scores into the greatest/when-chain evaluates the
    tokenize ~11x per row (55 vs 5 HOF subtrees, measured 1.25x wall
    at sf0.1, growing with document length; second r9 review). Staging
    them as real columns first keeps one evaluation each — the same
    stage-the-HOF rule as ``feature_hashes`` and ``shingles``."""
    langs = sorted(LANG_MARKERS)
    staged = df.select(
        "*",
        *[
            lang_score(F.col(text_col), LANG_MARKERS[lang]).alias(f"_s_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier languages win ties
        pred = F.when((F.col(f"_s_{lang}") == best) & (best > 0), lang).otherwise(
            pred
        )
    return staged.select("*", pred.alias(out)).drop(
        *[f"_s_{lang}" for lang in langs]
    )


def lang_score_sql(expr: str, markers: tuple[str, ...]) -> str:
    ml = ", ".join(f"'{m}'" for m in markers)
    return (
        f"LEN(list_filter(regexp_split_to_array(LOWER(TRIM({expr})), '\\s+'),"
        f" t -> t IN ({ml})))"
    )


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0,100]: length band + alpha ratio +
    stopword ratio, exact integer arithmetic (no FP, so both engines and
    every partitioning agree bit-for-bit). Single source of truth shared
    by ``q_text_quality_score``, the curation composite, and canonical-
    survivor selection — the SQL twin below must change in lockstep."""
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_tokens = token_count(text)
    n_stop = stopword_hits(text)
    length_pts = F.when((n_chars >= 100) & (n_chars <= 2000), 40).otherwise(10)
    alpha_pts = F.when(n_alpha * 100 >= n_chars * 60, 30).otherwise(5)
    stop_pts = F.when(n_stop * 100 >= n_tokens * 5, 30).otherwise(5)
    return (length_pts + alpha_pts + stop_pts).cast("int")


def quality_score_sql(expr: str) -> str:
    return f"""CAST(
    (CASE WHEN LENGTH({expr}) >= 100 AND LENGTH({expr}) <= 2000 THEN 40 ELSE 10 END)
    + (CASE WHEN LENGTH(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) * 100
             >= LENGTH({expr}) * 60 THEN 30 ELSE 5 END)
    + (CASE WHEN {stopword_hits_sql(expr)} * 100 >= {token_count_sql(expr)} * 5
       THEN 30 ELSE 5 END)
  AS INT)"""


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercased,
    non-alphanumerics collapsed to single spaces, trimmed). Same idea as
    content-defined dedup keys; md5 is portable to the SQL oracle."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))
    return F.md5(normalized)


def fingerprint_sql(expr: str) -> str:
    return f"md5(TRIM(regexp_replace(LOWER({expr}), '[^a-z0-9]+', ' ', 'g')))"


def chunk_documents(
    df,
    chunk: int,
    overlap: int,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Split documents into overlapping token-window chunks — the
    context-window prep step every RAG / training pipeline runs before
    embedding or packing (distinct from ``export.pack_sequences``, which
    BIN-PACKS whole short docs; this SPLITS long ones).

    Semantics (engine-exact, mirrored by ``chunk_documents_sql``):
    whitespace tokens (same regexp-trim + split as ``token_count``),
    chunk starts at 0, stride, 2*stride, ... with stride = chunk -
    overlap, continuing while start <= max(n_tokens - overlap - 1, 0) —
    so every tail chunk carries at least overlap+1 tokens of which at
    least one is new, no chunk is fully contained in its predecessor,
    and a doc with n <= chunk tokens yields exactly one chunk. Blank
    docs yield none. Returns (doc_id, chunk_id, n_chunk_tokens,
    chunk_text).

    Scale: pure JVM expressions (split + sequence + posexplode + slice)
    inside whole-stage codegen; output rows ~ n_tokens/stride per doc,
    no shuffle at all — chunking is map-side, so it composes with any
    downstream partitioning for free."""
    if not 0 <= overlap < chunk:
        raise ValueError(
            f"need 0 <= overlap < chunk, got chunk={chunk} overlap={overlap}"
            " (stride = chunk - overlap must be positive)"
        )
    stride = chunk - overlap
    trimmed = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    base = df.where(F.length(trimmed) > 0).select(
        F.col(id_col).alias("doc_id"), F.split(trimmed, r"\s+").alias("__toks")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("__toks") - (overlap + 1), F.lit(0)),
        F.lit(stride),
    )
    piece = F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(chunk))
    return (
        base.select(
            "doc_id", "__toks", F.posexplode(starts).alias("chunk_id", "__start")
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.size(piece).cast("int").alias("n_chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def chunk_documents_sql(
    chunk: int, overlap: int, table: str = "documents"
) -> str:
    """DuckDB mirror of ``chunk_documents`` (identical start rule and
    tokenization; chunk_id = start // stride, which equals posexplode's
    ordinal because starts are the exact stride multiples)."""
    stride = chunk - overlap
    return f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS t
  FROM {table}
  WHERE LENGTH(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) > 0
)
SELECT doc_id,
       CAST(g.i // {stride} AS INT) AS chunk_id,
       CAST(LEN(list_slice(t, CAST(g.i AS INT) + 1,
                           CAST(g.i AS INT) + {chunk})) AS INT)
         AS n_chunk_tokens,
       array_to_string(list_slice(t, CAST(g.i AS INT) + 1,
                                  CAST(g.i AS INT) + {chunk}), ' ')
         AS chunk_text
FROM toks, unnest(range(0, GREATEST(LEN(t) - {overlap + 1}, 0) + 1, {stride}))
     AS g(i)
"""


# -- PII redaction ---------------------------------------------------------
# ORDER MATTERS and is part of the contract: emails first, then
# phones, then bare IPv4s. The order-sensitive inputs are emails whose
# local part or domain CONTAINS a phone- or IP-shaped substring —
# 'a@1.2.3.4.com' (IP-first would tear it into 'a@<IP>.com', which the
# email pattern no longer matches) and 'y+15551234567@ex.com'
# (phone-first would tear the local part) — pinned by the planted
# adversarial line in q_text_pii_redact's oracle check. NOTE the email
# pattern requires an ALPHABETIC TLD, so 'user@1.2.3.4' is not an
# email under any order: its address redacts as host-only
# ('user@<IP>') — a documented residue, not an ordering artifact.
# Patterns are deliberately lookaround-free so Java regex (Spark) and
# RE2 (DuckDB) match identically; category counts are computed on the
# PROGRESSIVELY-redacted text (pattern i sees patterns < i replaced)
# so the categories partition the matches exactly like the redaction.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
)


def pii_scrub(text: Column) -> dict[str, Column]:
    """One progressive redaction chain yielding the per-category counts
    AND the fully-redacted text (key ``redacted``) — the C4/CCNet-style
    scrub step between raw corpus and training batches. Counts ride
    ``F.regexp_count`` (no throwaway match arrays); the chain is built
    ONCE, so callers don't re-derive the triple-replace for the
    redacted output (r11 review). Pure JVM expressions, no shuffle;
    ``pii_scrub_sql`` is the exact DuckDB twin (DuckDB lacks
    regexp_count, so its counts use LEN(regexp_extract_all) — same
    non-overlapping leftmost semantics)."""
    cur = text
    out: dict[str, Column] = {}
    for name, pat, token in PII_PATTERNS:
        out[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    out["redacted"] = cur
    return out


def _sql_quote(s: str) -> str:
    """Single-quoted SQL string literal with embedded quotes doubled —
    the current PII_PATTERNS happen to be quote-free, but a future
    pattern or token containing ``'`` must produce a quoted literal,
    not silently broken oracle SQL (r11 advice)."""
    return "'" + s.replace("'", "''") + "'"


def _spark_sql_quote(s: str) -> str:
    r"""``_sql_quote`` for Spark SQL: Spark's parser also reads ``\`` as
    an escape character (``'a\nb'`` is a newline, ``'a\'`` runs on past
    its closing quote), so backslashes are doubled before the quotes.
    DuckDB keeps ``\`` literal — its oracle SQL uses ``_sql_quote``."""
    return _sql_quote(s.replace("\\", "\\\\"))


def pii_scrub_sql(expr: str) -> dict[str, str]:
    cur = expr
    out: dict[str, str] = {}
    for name, pat, token in PII_PATTERNS:
        out[name] = f"LEN(regexp_extract_all({cur}, {_sql_quote(pat)}))"
        cur = (
            f"regexp_replace({cur}, {_sql_quote(pat)}, "
            f"{_sql_quote(token)}, 'g')"
        )
    out["redacted"] = cur
    return out


def redact_pii(text: Column) -> Column:
    """Just the redacted text (callers needing counts too should take
    ``pii_scrub`` and avoid re-deriving the chain)."""
    return pii_scrub(text)["redacted"]


def redact_pii_sql(expr: str) -> str:
    return pii_scrub_sql(expr)["redacted"]


# -- BM25 scoring (shared by plans/text_queries.q_text_bm25_topk and the
# incremental retrieval store operators/bm25_index.py — one rule per
# fact: the store's topk must be bit-identical to the full-corpus
# query, so neither may fork the arithmetic) ------------------------------
#
# Okapi k1=1.2, b=0.75 folded into integer coefficients: with
# avgdl = S/N and the log-free odds-lift idf (N - df + 0.5)/(df + 0.5)
# — transcendental-free, the q_text_collocations convention; ln would
# hash-differ between JVM and C math libraries — multiplying numerator
# and denominator by 20*S gives
#
#   score_t = (22*tf*S * (2N - 2df + 1))
#           / ((10*tf*S + 3*S + 9*dl*N) * (2df + 1))
#
# every factor an exact bigint (headroom ~4e17 at sf10), ONE IEEE
# division. Past the headroom the products overflow int64: ANSI Spark
# and DuckDB both fail LOUDLY, but ANSI-off Spark would wrap silently —
# so the incremental store checks the exact additive meta stats before
# any engine is asked to build a product (``bm25_require_int64_headroom``
# below, from ``Bm25Index.append``/``topk``). r14 (r13 verdict #1):
# past the int64 line the store AUTO-WIDENS to the decimal(38,0)
# scorer twins (``bm25_term_score_dec`` / ``bm25_term_score_dec_sql``
# — Spark decimal(38,0) products / DuckDB HUGEINT products, both exact
# integers, then ONE cast-to-double division). The same integer
# products produce the same doubles, so in-range scores are
# BIT-IDENTICAL across modes; the widened envelope is 10^38-1
# (~1e20x the int64 line — a 100 TB corpus sits comfortably inside),
# and only past THAT do corpora need sharded indexes.

INT64_MAX = (1 << 63) - 1
DEC38_MAX = 10**38 - 1


def bm25_int64_products_bound(
    n_docs: int, s_tokens: int, max_dl: int
) -> int:
    """Exact worst case of the two bigint products inside
    ``bm25_term_score`` over any (tf, dl, df) the corpus can produce:
    tf <= dl <= max_dl, 1 <= df <= n_docs. The numerator peaks at
    tf=max_dl, df=1; the denominator at tf=dl=max_dl, df=n_docs.
    Python ints are arbitrary-precision, so the bound itself cannot
    overflow."""
    if n_docs <= 0 or s_tokens <= 0 or max_dl <= 0:
        return 0
    num_max = 22 * max_dl * s_tokens * (2 * n_docs - 1)
    den_max = (10 * max_dl * s_tokens + 3 * s_tokens + 9 * max_dl * n_docs) * (
        2 * n_docs + 1
    )
    return max(num_max, den_max)


def bm25_require_int64_headroom(
    n_docs: int, s_tokens: int, max_dl: int, where: str
) -> None:
    """Loud guard for the silent-wraparound mode (ANSI-off Spark):
    raise before any engine is asked to build an int64-mode product
    past int64. ``Bm25Index.append`` handles this by auto-widening the
    store to the decimal(38,0) scorer; a raise from here means an
    int64-MODE plan was asked to score stats only the decimal mode can
    hold (e.g. a meta edited out of band)."""
    bound = bm25_int64_products_bound(n_docs, s_tokens, max_dl)
    if bound > INT64_MAX:
        raise ValueError(
            f"{where}: corpus stats (n_docs={n_docs}, s_tokens={s_tokens}, "
            f"max_dl={max_dl}) put the worst-case BM25 score product at "
            f"{bound} > int64 max {INT64_MAX} — int64-mode scores would "
            "overflow (loudly under ANSI Spark/DuckDB, SILENTLY on "
            "ANSI-off Spark). The store auto-widens to score_mode="
            "'decimal38' at append time (bm25_term_score_dec/_sql); an "
            "int64-mode store holding these stats is inconsistent"
        )


def bm25_require_decimal38_headroom(
    n_docs: int, s_tokens: int, max_dl: int, where: str
) -> None:
    """The decimal(38,0) envelope's own loud guard: past 10^38-1 the
    Spark decimal products overflow (null on ANSI-off) and DuckDB's
    HUGEINT products error — there is no wider exact integer type in
    both engines, so corpora beyond this line genuinely need sharding
    (hash docs across N child indexes, merge topk driver-side)."""
    bound = bm25_int64_products_bound(n_docs, s_tokens, max_dl)
    if bound > DEC38_MAX:
        raise ValueError(
            f"{where}: corpus stats (n_docs={n_docs}, s_tokens={s_tokens}, "
            f"max_dl={max_dl}) put the worst-case BM25 score product at "
            f"{bound} > decimal(38,0) max {DEC38_MAX} — past the widest "
            "exact integer BOTH engines share. Shard the corpus across "
            "child indexes (hash on doc id) and merge their topk"
        )


def bm25_term_score(
    tf: Column, dl: Column, df: Column, n_docs: Column, s_tokens: Column
) -> Column:
    num = (22 * tf * s_tokens) * (2 * n_docs - 2 * df + 1)
    den = (10 * tf * s_tokens + 3 * s_tokens + 9 * dl * n_docs) * (
        2 * df + 1
    )
    return num.cast("double") / den.cast("double")


def bm25_term_score_sql(
    tf: str, dl: str, df: str, n_docs: str, s_tokens: str
) -> str:
    return (
        f"CAST((22 * {tf} * {s_tokens}) * (2 * {n_docs} - 2 * {df} + 1) "
        f"AS DOUBLE)\n      / CAST((10 * {tf} * {s_tokens} + 3 * {s_tokens}"
        f"\n              + 9 * {dl} * {n_docs}) * (2 * {df} + 1) AS DOUBLE)"
    )


def bm25_term_score_dec(
    tf: Column, dl: Column, df: Column, n_docs: int, s_tokens: int
) -> Column:
    """The widened scorer twin (r14): SAME rational arithmetic as
    ``bm25_term_score`` carried in decimal(38,0) — exact integer
    products up to 10^38-1 instead of int64's ~9.2e18, then the same
    ONE cast-to-double division. The same integer values produce the
    same doubles (both casts round to nearest), so in-range scores are
    bit-identical across modes; past int64 this is the only mode that
    can score at all. ``n_docs``/``s_tokens`` are PYTHON ints (they
    may themselves exceed int64, so they enter the plan as string
    literals cast to decimal, never as longs)."""

    def dec(x) -> Column:
        if isinstance(x, int):
            return F.lit(str(x)).cast("decimal(38,0)")
        return x.cast("decimal(38,0)")

    nd, st = dec(n_docs), dec(s_tokens)
    tfd, dld, dfd = dec(tf), dec(dl), dec(df)
    num = (22 * tfd * st) * (2 * nd - 2 * dfd + 1)
    den = (10 * tfd * st + 3 * st + 9 * dld * nd) * (2 * dfd + 1)
    return num.cast("double") / den.cast("double")


def bm25_term_score_dec_sql(
    tf: str, dl: str, df: str, n_docs: str, s_tokens: str
) -> str:
    """DuckDB twin of ``bm25_term_score_dec``: HUGEINT (int128)
    products — DuckDB's widest exact integer, covering the same
    10^38-1 envelope the Spark decimal(38,0) side enforces — then the
    same cast-to-double division. The double conversion goes THROUGH
    VARCHAR on purpose: DuckDB's direct HUGEINT->DOUBLE cast
    double-rounds (high word * 2^64 + low word, two roundings) and is
    off by one ulp for ~1% of values a few bits above 2^63 — measured
    362/30000 mismatches vs Python/JVM in that band — while its
    string->double parse is correctly rounded (0/30000). Spark's
    decimal->double cast is correctly rounded (BigDecimal.doubleValue),
    so with the VARCHAR route both engines produce the SAME double
    from the same exact integer and the bit-identity contract holds
    past the int64 line."""
    tfh, dlh, dfh = (f"CAST({c} AS HUGEINT)" for c in (tf, dl, df))
    ndh, sth = (f"CAST({c} AS HUGEINT)" for c in (n_docs, s_tokens))
    num = f"(22 * {tfh} * {sth}) * (2 * {ndh} - 2 * {dfh} + 1)"
    den = (
        f"(10 * {tfh} * {sth} + 3 * {sth} + 9 * {dlh} * {ndh})"
        f" * (2 * {dfh} + 1)"
    )
    return (
        f"CAST(CAST({num} AS VARCHAR) AS DOUBLE)"
        f"\n      / CAST(CAST({den} AS VARCHAR) AS DOUBLE)"
    )


def bm25_fold_scores(tok: Column, score: Column) -> Column:
    """Per-document BM25 total as an AGGREGATE expression: fold-left
    over the tok-SORTED per-term score list. A bare SUM(double) is
    accumulation-order-dependent — order differs between engines and
    across partitionings — so the sorted fold adds in ONE defined
    order and the double is bit-identical everywhere
    (``bm25_fold_scores_sql`` is the DuckDB twin; its
    ``list_prepend(0.0, ...)`` mirrors this fold's 0.0 init — IEEE
    0.0 + x == x for the finite positive scores, so single-term docs
    agree too)."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(
                F.struct(tok.alias("tok"), score.alias("score_t"))
            )
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["score_t"],
    )


def bm25_fold_scores_sql(score: str, tok: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, LIST({score} ORDER BY {tok} ASC)),"
        f"\n                (acc, x) -> acc + x)"
    )


def bm25_query_terms(qraw: DataFrame, qtext_col: str = "qtext") -> DataFrame:
    """``(query_id, tok)`` — distinct query terms derived through the
    SAME normalizer as the corpus tokenization. ONE rule for the
    full-corpus plan, the incremental store's ``topk``, and (via
    ``dedup.normalized_tokens_sql`` in the oracle's qterms CTE) the
    DuckDB twin: hand-synced copies of this 5-line derivation are what
    the bit-identity contract would silently narrow on — a tweak to
    one copy breaks topk == q_text_bm25_topk only for queries that
    tokenize differently, which no fixture query does (r12 review)."""
    from .dedup import normalized_tokens

    return (
        qraw.select(
            "query_id",
            F.explode(normalized_tokens(F.col(qtext_col))).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
