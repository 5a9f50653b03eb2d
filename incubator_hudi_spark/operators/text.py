"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure ``pyspark.sql.functions`` expressions (whole-stage codegen, zero
Python in the row path) and all expressible in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic marker-word lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "dans"],
    "es": ["el", "de", "que", "los", "las", "una", "por", "con", "para", "es"],
    "it": ["di", "che", "il", "la", "per", "una", "sono", "con", "del", "non"],
}


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count_whitespace(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(_tokens(text))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish proxy: count of letter-runs, digit-runs, and isolated
    punctuation — a stable upper bound on subword-tokenizer output used for
    budget accounting."""
    return F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def lang_marker_hits(text: Column, lang: str) -> Column:
    """How many of ``lang``'s top marker words occur as tokens."""
    toks = F.array_distinct(_tokens(text))
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(toks, markers))


def detect_language(text: Column) -> Column:
    """argmax over marker-hit counts; 'unknown' when nothing matches.
    Deterministic tie-break by language code order."""
    best = F.lit("unknown")
    best_hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        hits = lang_marker_hits(text, lang)
        is_better = hits > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + composite score (heuristics in the
    C4/Gopher-rules tradition, all closed-form)."""
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    t = F.col(text_col)
    toks = _tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    return (df
            .withColumn("n_chars", n_chars.cast("long"))
            .withColumn("n_tokens", n_tokens.cast("long"))
            .withColumn("avg_word_len",
                        (n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))))
            .withColumn("punct_ratio",
                        F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double")
                        / F.greatest(n_chars, F.lit(1)))
            .withColumn("digit_ratio",
                        F.regexp_count(t, F.lit(r"[0-9]")).cast("double")
                        / F.greatest(n_chars, F.lit(1)))
            .withColumn("upper_ratio",
                        F.regexp_count(t, F.lit(r"[A-Z]")).cast("double")
                        / F.greatest(n_chars, F.lit(1)))
            .withColumn("stopword_ratio",
                        F.size(F.array_intersect(
                            F.array_distinct(toks),
                            F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])))
                        .cast("double") / F.lit(10.0))
            .withColumn("quality_score",
                        (F.lit(1.0)
                         - F.least(F.col("punct_ratio") * 2, F.lit(0.5))
                         - F.least(F.col("digit_ratio"), F.lit(0.3)))
                        * F.least(F.col("n_tokens").cast("double") / 50.0, F.lit(1.0))))


def doc_fingerprint(text: Column, w: int = 8, stride: int = 1) -> Column:
    """Winnowing-style rolling-hash fingerprint: min xxhash64 over w-char
    windows — a single long per doc, stable under small appends.  Uses
    ``substr`` over the raw string (no char-array materialization)."""
    n = F.greatest(F.length(text) - F.lit(w - 1), F.lit(1))
    return F.array_min(F.transform(
        F.sequence(F.lit(1), n, F.lit(stride)),
        lambda i: F.xxhash64(F.lower(text.substr(i, F.lit(w))))))


def doc_fingerprint_md5(text: Column, w: int = 8, stride: int = 1) -> Column:
    """Portable variant of ``doc_fingerprint``: min md5-hex over w-char
    windows.  Identical plan shape (sequence→transform→array_min, all
    codegen); md5 instead of xxhash64 so external engines (the DuckDB
    oracle, any ANSI-SQL system) can reproduce the value bit-for-bit."""
    n = F.greatest(F.length(text) - F.lit(w - 1), F.lit(1))
    return F.array_min(F.transform(
        F.sequence(F.lit(1), n, F.lit(stride)),
        lambda i: F.md5(F.lower(text.substr(i, F.lit(w))))))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-stop text analysis: language, token counts, quality, fingerprint."""
    out = quality_features(df, text_col)
    return (out
            .withColumn("detected_lang", detect_language(F.col(text_col)))
            .withColumn("n_tokens_bpe", token_count_bpe_ish(F.col(text_col)).cast("long"))
            .withColumn("fingerprint", doc_fingerprint(F.col(text_col))))


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text",
               min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: top-``k`` whitespace tokens by document frequency
    weighting = raw occurrence count.  Deterministic tie-break (count desc,
    token asc) so the cut is reproducible.

    Scale shape: explode → hash-aggregate COUNT gets map-side partial
    combine, so the shuffle carries one row per (task, distinct token) — at
    100 TB the wire volume is bounded by vocabulary size × tasks, not corpus
    size.  The global top-k is a single-partition sort over the (small)
    aggregated vocabulary.
    """
    from pyspark.sql.window import Window
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    toks = (df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") >= min_count))
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (toks.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


def repetition_features(df: DataFrame, doc_id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signal: per doc, the share of bigrams taken by
    the single most frequent bigram — high values flag boilerplate/spam.
    Returns (doc_id, n_grams, top_gram_n, rep_milli) where rep_milli =
    floor(1000·top/total); docs with <2 tokens emit no row.

    Scale shape: bigrams built token-local (zip_with of two slices — no
    quadratic per-row loop), exploded, then two hash aggregates with
    map-side combine; wire volume is bounded by distinct (doc, bigram), not
    corpus size.  The in-row alternative (array_distinct × filter count) is
    O(tokens²) per doc and melts on long documents.
    """
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df, key=doc_id_col)
    toks = _tokens(F.col(text_col))
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    g = (df.select(F.col(doc_id_col).alias("doc_id"),
                   F.explode(grams).alias("gram"))
           .groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("n")))
    return (g.groupBy("doc_id")
            .agg(F.sum("n").alias("n_grams"),
                 F.max("n").alias("top_gram_n"))
            .withColumn("rep_milli",
                        F.floor(F.lit(1000.0) * F.col("top_gram_n")
                                / F.col("n_grams")).cast("long")))


def tf_idf(df: DataFrame, doc_id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """Per-(doc, token) term statistics: ``tf`` (occurrences in the doc),
    ``df`` (documents containing the token), ``n_docs``, and the smoothed
    ``tfidf = tf * (ln((n_docs+1)/(df+1)) + 1)`` (scikit-learn's smoothing).

    Scale shape: explode → two hash aggregates with map-side combine
    (doc-term counts shuffle by (doc, token); document frequency shuffles
    the aggregated vocabulary only), then a token-keyed join the optimizer
    can broadcast when the vocabulary is small.  No Python in the row path.
    """
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    toks = (df.select(F.col(doc_id_col).alias("doc_id"),
                      F.explode(_tokens(F.col(text_col))).alias("token"))
              .filter(F.col("token") != ""))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count_distinct(F.col(doc_id_col)).alias("n_docs"))
    out = tf.join(dfreq, "token").crossJoin(F.broadcast(n_docs))
    idf = F.log((F.col("n_docs") + 1).cast("double")
                / (F.col("df") + 1).cast("double")) + F.lit(1.0)
    return out.withColumn("tfidf", F.col("tf").cast("double") * idf) \
              .select("doc_id", "token", "tf", "df", "n_docs", "tfidf")


# ---------------------------------------------------------------------------
# PII scrubbing (training-corpus hygiene) — pure regexp expressions, all
# patterns chosen to behave identically under Java regex (Spark) and RE2
# (DuckDB) so the operator is oracle-checkable.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}"


def pii_scrub(df: DataFrame, text_col: str = "text",
              email_token: str = "<EMAIL>", ip_token: str = "<IP>",
              phone_token: str = "<PHONE>") -> DataFrame:
    """Redact emails / IPv4s / international phone numbers and count the
    redactions.  Whole-stage-codegen regexp chain — no Python in the row
    path; at 100 TB this is a pure map stage (zero shuffles; the
    min-parallelism respread only fires on degenerate narrow inputs)."""
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    t = F.col(text_col)
    return (df
            .withColumn("n_emails", F.regexp_count(t, F.lit(PII_EMAIL)))
            .withColumn("n_ips", F.regexp_count(t, F.lit(PII_IPV4)))
            .withColumn("n_phones", F.regexp_count(t, F.lit(PII_PHONE)))
            .withColumn(
                f"{text_col}_clean",
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(t, PII_EMAIL, email_token),
                        PII_PHONE, phone_token),
                    PII_IPV4, ip_token)))


def chunk_documents(df: DataFrame, chunk_chars: int = 512,
                    overlap_chars: int = 64,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into fixed-size character windows with overlap — the
    standard pre-tokenization step for context-window training and RAG
    indexing.

    Chunk ``i`` covers ``[i*step, i*step + chunk_chars)`` with
    ``step = chunk_chars - overlap_chars``; the last chunk may be short,
    every character of the document is covered by at least one chunk, and
    no chunk is fully contained in the previous one (the last index is
    ``ceil((len - chunk_chars) / step)``, i.e. the first start whose chunk
    reaches the end — one more would add only already-covered text).

    Pure JVM plan: ``sequence`` → ``posexplode`` → ``substring`` — no
    Python, no shuffle; at 100 TB this is a map-side explode whose output
    rows are ~(len/step)× the input, which Spark pipelines straight into
    downstream operators (tokenize, embed, write).  Expressible in ANSI
    SQL (generate_series + substr) for oracle checking.
    """
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be < chunk_chars")
    step = chunk_chars - overlap_chars
    t = F.col(text_col)
    last_idx = F.greatest(
        F.lit(0),
        F.floor((F.length(t) - F.lit(chunk_chars) + F.lit(step - 1))
                / F.lit(step))
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), last_idx))
    out = (df.withColumn("chunk_id", idx)
             .withColumn("chunk_text",
                         F.substring(t, F.col("chunk_id") * step + 1,
                                     chunk_chars))
             .withColumn("chunk_chars", F.length("chunk_text")))
    return out.select(id_col, "chunk_id", "chunk_text", "chunk_chars")


# Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models" §A1.1;
# same rule family FineWeb/Dolma reuse).  Kept module-level so a pipeline
# can tighten/loosen a copy.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_RULES = {
    "min_words": 50, "max_words": 100_000,
    "min_mean_word_len": 3.0, "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,      # '#' and '…' per word
    "max_bullet_line_ratio": 0.9,      # lines starting with a bullet
    "max_ellipsis_line_ratio": 0.3,    # lines ending in … / ...
    "min_alpha_word_ratio": 0.8,       # words containing a letter
    "min_stopword_hits": 2,            # distinct GOPHER_STOPWORDS present
}


def gopher_quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher repetition-free quality rules as one closed-form pass —
    per-rule booleans plus the composite ``gopher_pass``.  Every rule is a
    JVM column expression (split + higher-order filter), so at 100 TB this
    is a single codegen'd projection over the corpus scan: no shuffle, no
    Python.  Drop failures with ``.filter("gopher_pass")``."""
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    wc = F.size(words).cast("long")
    wc1 = F.greatest(wc, F.lit(1)).cast("double")
    lines = F.split(t, "\n")
    nlines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    mean_wl = (F.length(F.regexp_replace(t, r"\s", "")).cast("double") / wc1)
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ell = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    bullet_lines = F.size(F.filter(
        lines, lambda x: x.startswith("-") | x.startswith("*")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda x: x.endswith("...") | x.endswith("…")))
    alpha_words = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, F.lower)),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    r = GOPHER_RULES
    out = (df
           .withColumn("g_word_count", wc)
           .withColumn("g_mean_word_len", mean_wl)
           .withColumn("g_rule_words",
                       (wc >= r["min_words"]) & (wc <= r["max_words"]))
           .withColumn("g_rule_word_len",
                       (mean_wl >= r["min_mean_word_len"])
                       & (mean_wl <= r["max_mean_word_len"]))
           .withColumn("g_rule_symbols",
                       ((n_hash + n_ell).cast("double") / wc1)
                       <= r["max_symbol_word_ratio"])
           .withColumn("g_rule_bullets",
                       (bullet_lines.cast("double") / nlines)
                       <= r["max_bullet_line_ratio"])
           .withColumn("g_rule_ellipsis",
                       (ellipsis_lines.cast("double") / nlines)
                       <= r["max_ellipsis_line_ratio"])
           .withColumn("g_rule_alpha",
                       (alpha_words.cast("double") / wc1)
                       >= r["min_alpha_word_ratio"])
           .withColumn("g_rule_stopwords",
                       stop_hits >= r["min_stopword_hits"]))
    rule_cols = [c for c in out.columns if c.startswith("g_rule_")]
    gate = F.lit(True)
    for c in rule_cols:
        gate = gate & F.col(c)
    return out.withColumn("gopher_pass", gate)


GOPHER_REPETITION_RULES = {
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_frac": 0.30,
    "max_dup_para_char_frac": 0.20,
}


def gopher_repetition_filter(df: DataFrame,
                             text_col: str = "text") -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 §A1.1, duplicate line /
    paragraph family): fraction of duplicate lines/paragraphs by count and
    by character mass.  Like gopher_quality_filter this is pure array
    expressions per document — counting duplicates is
    ``size(l) - size(array_distinct(l))`` and character mass is an
    ``aggregate`` fold, so the whole pass stays inside one codegen'd
    projection (no explode, no shuffle).  The top-n-gram char-fraction
    rules are deliberately left to repetition_features (they need per-doc
    n-gram modes — an explode+groupBy job, the right shape at scale but not
    a row-local expression)."""
    from ._util import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    t = F.col(text_col)

    def frac_cols(arr, prefix):
        arr = F.filter(arr, lambda x: F.length(x) > 0)
        n = F.size(arr)
        n1 = F.greatest(n, F.lit(1)).cast("double")
        dn = F.size(F.array_distinct(arr))
        chars = F.aggregate(arr, F.lit(0).cast("long"),
                            lambda acc, x: acc + F.length(x))
        dchars = F.aggregate(F.array_distinct(arr), F.lit(0).cast("long"),
                             lambda acc, x: acc + F.length(x))
        chars1 = F.greatest(chars, F.lit(1)).cast("double")
        return {
            f"{prefix}_dup_frac": (n - dn).cast("double") / n1,
            f"{prefix}_dup_char_frac":
                (chars - dchars).cast("double") / chars1,
        }

    cols = {}
    cols.update(frac_cols(F.split(t, "\n"), "line"))
    cols.update(frac_cols(F.split(t, "\n\n"), "para"))
    out = df
    for name, c in cols.items():
        out = out.withColumn(name, c)
    r = GOPHER_REPETITION_RULES
    return out.withColumn(
        "repetition_pass",
        (F.col("line_dup_frac") <= r["max_dup_line_frac"])
        & (F.col("line_dup_char_frac") <= r["max_dup_line_char_frac"])
        & (F.col("para_dup_frac") <= r["max_dup_para_frac"])
        & (F.col("para_dup_char_frac") <= r["max_dup_para_char_frac"]))


def dedup_spans(df: DataFrame, span_words: int = 10,
                max_occurrences: int = 1,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide span deduplication (the paragraph/line dedup step of
    CCNet/Gopher-style pipelines, generalized to fixed word windows for
    corpora without newline structure): every document is segmented into
    consecutive non-overlapping ``span_words``-word spans; spans whose exact
    text occurs in MORE than ``max_occurrences`` documents corpus-wide are
    removed from every document, and the surviving spans are reassembled in
    their original order.  Reassembly joins spans with single spaces, so a
    document that LOST a span also has its whitespace runs (tabs, newlines,
    double spaces) normalized; documents with no removed span keep their
    original text byte-for-byte.  Boilerplate (headers, license blurbs,
    mirrored articles) disappears while unique prose survives.

    100 TB shape: spans are derived with array expressions (no word-level
    explode — the span explode is ~1/span_words the row count), counted with
    a combinable hash groupBy (1 shuffle), attached back by span-hash
    equi-join (1 shuffle, AQE-skew-safe: a viral span hashes to one key but
    its count row is one record), and documents reassemble with a doc-keyed
    groupBy (1 shuffle).  Nothing is quadratic; driver sees no data.
    """
    # the tokenized array is materialized through a projection boundary —
    # referencing the split() expression inside the per-span lambda makes
    # Catalyst inline (recompute) it per span (~35% slower span derive,
    # measured; same pathology as the ExactSubstr window kernel)
    seg = (df.select(id_col, F.split(F.col(text_col), r"\s+").alias("_w"))
             .select(id_col, F.posexplode(
                 F.transform(
                     F.sequence(F.lit(0),
                                F.greatest(F.ceil(F.size("_w") / span_words)
                                           .cast("int") - 1, F.lit(0))),
                     lambda i: F.array_join(
                         F.slice("_w", i * span_words + 1, span_words), " ")))
               .alias("span_id", "span"))
             .filter(F.length("span") > 0)
             .withColumn("span_hash", F.md5("span")))
    counts = (seg.groupBy("span_hash")
                 .agg(F.countDistinct(id_col).alias("n_docs")))
    keep = F.col("n_docs") <= max_occurrences
    # one aggregate yields the reassembled text AND the kept/total span
    # counts (collect_list drops the nulls the `when` leaves for removed
    # spans), so the untouched-document check below costs no extra shuffle
    rebuilt = (seg.join(counts, "span_hash")
               .groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(keep,
                                       F.struct("span_id", "span")))),
                            lambda s: s["span"]), " ").alias("_rebuilt"),
                    F.count(F.lit(1)).alias("_n_total"),
                    F.count(F.when(keep, 1)).alias("_n_kept")))
    # Reassembly joins surviving spans with single spaces, so a CHANGED
    # document's whitespace runs (tabs, newlines, double spaces) collapse.
    # Documents with NO removed span keep their original text verbatim —
    # including all original whitespace (and documents with no spans at
    # all: empty/whitespace-only text).  Documents whose every span was
    # removed survive with empty text; all non-text columns pass through
    # untouched (schema-preserving, like the sibling operators).
    untouched = (F.col("_n_total").isNull()
                 | (F.col("_n_kept") == F.col("_n_total")))
    return (df.join(rebuilt, id_col, "left")
              .withColumn(text_col, F.when(untouched, F.col(text_col))
                                     .otherwise(F.col("_rebuilt")))
              .select(*df.columns))


def dedup_exact_substrings(df: DataFrame, min_words: int = 20,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           checkpoint_dir: str | None = None) -> DataFrame:
    """ExactSubstr deduplication (the exact-substring pass of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally instead of via a suffix array): every word
    position covered by a ``min_words``-word window whose exact text also
    occurs in an EARLIER document (lower ``id_col`` — the priority order)
    is removed; the earliest document owning a window keeps all its
    occurrences.  Unlike ``dedup_spans`` (fixed non-overlapping windows,
    corpus-frequency threshold), windows here OVERLAP, so arbitrarily
    aligned copied passages are caught and removed maximally.

    100 TB shape — every step is linear and relational, no suffix array,
    no driver data:
      1. per-doc overlapping window hashes via array expressions (one row
         per window only after posexplode — ≈ one row per WORD, the same
         order as tokenization itself);
      2. one combinable groupBy(hash) → min(doc) finds each window's owner;
      3. an equi-join marks later documents' covered window starts;
      4. covered starts explode to removed word indexes (≤ words ×
         min_words, deduped) — this ``removed`` set is proportional to
         DIRTY words only, and is locally checkpointed so it feeds two
         consumers off one computation;
      5. a candidate prefilter (Lee et al. 2022 §4: dedup touches a small
         corpus fraction) semi-joins the corpus against the dirty doc-ids,
         so ONLY documents owning ≥1 covered window pay the
         tokenize/posexplode/anti-join/rebuild pass — on a mostly-clean
         corpus (the 100 TB case) the second per-word pass all but
         disappears; clean documents flow through a plain left join.
    Changed documents are single-space rejoined; untouched documents keep
    their text byte-for-byte (same contract as dedup_spans).

    ``checkpoint_dir``: directory for a RELIABLE checkpoint of the
    ``removed`` intermediate.  Default None uses ``localCheckpoint``
    (executor-local storage — cheapest, but lineage is TRUNCATED, so
    blocks lost to executor failure cannot be recomputed and the job
    fails); on a long-lived cluster with executor churn pass a
    fault-tolerant path (HDFS/object store) so the intermediate survives
    executor loss.  Results are identical either way.
    """
    words = F.split(F.col(text_col), r"\s+")
    # Window-hash kernel (measured, OPTIMIZATION_r06.md §3 — 6.6× the
    # md5-of-joined-string kernel at sf0.1): hash each WORD once
    # (xxhash64), explode the window start positions, then hash the
    # 20-long slice of word-hashes twice with different salts — 128
    # effective bits like md5, but no per-window string reconstruction
    # and a 16-byte hash pair instead of a 32-char md5 in the shuffle.
    # The word-hash array is materialized through the explode boundary:
    # inlining it into a per-window lambda makes Catalyst recompute the
    # word hashes for every window (~20× per word — measured 12× slower).
    n_words = F.size(F.col("_wh"))
    # window starts 0..len-min_words (none when the doc is shorter)
    starts = F.when(
        n_words >= min_words,
        F.sequence(F.lit(0), n_words - min_words)).otherwise(
        F.array().cast("array<int>"))
    win = F.slice(F.col("_wh"), F.col("pos") + 1, F.lit(min_words))
    seg = (df.select(id_col,
                     F.transform(words,
                                 lambda w: F.xxhash64(w)).alias("_wh"))
             .select(id_col, "_wh", F.explode(starts).alias("pos"))
             .select(id_col, "pos",
                     F.xxhash64(win).alias("h1"),
                     F.xxhash64(F.lit(0x9E3779B9), win).alias("h2")))
    # corpus-frequency prefilter (r7): a window hash that occurs ONCE
    # corpus-wide can never produce a covered row (its only seg row has
    # id == owner), so drop singleton hashes before the join — provably
    # the same covered set.  Invisible at bench scale (the owners side
    # broadcasts anyway); at the 100 TB sort-merge shape it shrinks the
    # owners-side SMJ sort from every-distinct-window to duplicated-
    # windows-only, which on a mostly-clean corpus is ~the whole side.
    # The count rides the existing aggregation — no extra pass.  (The
    # join-free collect_list single-pass variant measured 8-15% faster at
    # sf0.1 but holds one in-memory list per hash group, an unbounded
    # hot-window hazard on boilerplate-heavy corpora — rejected, see
    # tools/ab_exactsubstr_prefilter.py.)
    owners = (seg.groupBy("h1", "h2")
              .agg(F.min(id_col).alias("_owner"),
                   F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") >= 2).drop("_n"))
    covered = (seg.join(owners, ["h1", "h2"])
               .filter(F.col(id_col) > F.col("_owner"))
               .select(id_col, "pos").distinct())
    removed = (covered
               .select(id_col, F.explode(
                   F.sequence(F.col("pos"),
                              F.col("pos") + min_words - 1)).alias("wi"))
               .distinct())
    # one computation, two consumers (dirty-id semi-join + token anti-join):
    # lineage-truncate so the corpus-wide window pass runs exactly once
    from ._util import checkpoint
    removed = checkpoint(removed, checkpoint_dir, eager=False)
    dirty_ids = removed.select(id_col).distinct()
    toks = (df.join(dirty_ids, id_col, "left_semi")
              .select(id_col, F.posexplode(words).alias("wi", "w"))
              .join(removed, [id_col, "wi"], "left_anti"))
    survivors = (toks.groupBy(id_col)
                 .agg(F.array_join(
                          F.transform(
                              F.array_sort(F.collect_list(
                                  F.struct("wi", "w"))),
                              lambda s: s["w"]), " ").alias("_rebuilt")))
    # a dirty doc whose EVERY word was removed yields no survivors row —
    # it must come back as empty text, not pass through verbatim, so
    # re-attach survivors to the dirty-id set before joining the corpus
    rebuilt = (dirty_ids.join(survivors, id_col, "left")
               .select(id_col,
                       F.coalesce("_rebuilt", F.lit("")).alias("_rebuilt")))
    # clean documents (no rebuilt row) keep their original text verbatim
    out = (df.join(rebuilt, id_col, "left")
             .withColumn(text_col,
                         F.coalesce(F.col("_rebuilt"), F.col(text_col)))
             .select(*df.columns))
    return out
