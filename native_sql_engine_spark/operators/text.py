"""Text-analysis operators for LLM-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID, quality
scoring, token counting, document fingerprinting.  All pure DataFrame
column expressions — JVM-side, codegen'd, no Python in the hot path — so
they scale linearly with input splits at 100 TB (no shuffle at all: these
are per-row transforms the scanner pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

#: marker stopwords per language for the n-gram/stopword-ratio heuristic.
#: Tiny on purpose — broadcast as literals into the plan, no side table.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "los", "y", "es", "un"),
    "zh": ("的", "是", "了", "在", "和", "有"),
}

#: BPE-ish token pattern: word pieces or single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it", "that", "for")


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty tokens removed)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token count via the BPE-like regex."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (order-sensitive).

    Built from sequence+transform+slice — stays inside codegen; the
    foundation for jaccard/MinHash dedup (operators/dedup.py).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - n, F.lit(-1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tokens_col, i + 1, n), " "))
    return F.array_distinct(grams)


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach length/token/punctuation/stopword quality signals + a score.

    The score mirrors common pretraining-data filters (C4/Gopher-style
    length + symbol-ratio + stopword tests) as a single double in [0,1].
    """
    c = F.col(text_col)
    # tokenize once into an attribute (the split feeds 3 downstream exprs)
    staged = df.select("*", tokens(c).alias("_qm_toks"))
    toks = F.col("_qm_toks")
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS])))
    avg_word = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((avg_word >= 2.0) & (avg_word <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct.cast("double") / F.greatest(n_chars, F.lit(1)) < 0.2, F.lit(0.2)).otherwise(
            F.lit(0.0)
        )
        + F.when(stop_hits > 0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return staged.select(
        *df.columns,
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(avg_word, 4).alias("avg_word_len"),
        punct.cast("bigint").alias("n_punct"),
        stop_hits.cast("bigint").alias("n_stopwords"),
        F.round(score, 2).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", out: str = "lang_guess") -> DataFrame:
    """Heuristic language ID: marker-stopword hit counts per language,
    argmax with deterministic (alphabetical) tie-break, 'und' when no
    marker hits at all.

    Built as two projection steps so the tokenization and each per-language
    score are evaluated ONCE per row: the scores live in intermediate
    columns that the argmax CASE only references.  (Inlining them into the
    chained ``when``s makes Catalyst re-evaluate split+array_intersect per
    branch — O(langs²) regex work per row; CollapseProject keeps the split
    because the aliases are non-trivial and multiply referenced.)"""
    langs = sorted(LANG_MARKERS)
    toks_col, best_col = f"_{out}_toks", f"_{out}_best"
    score_col = {lang: f"_{out}_{lang}" for lang in langs}
    scored = df.withColumn(toks_col, tokens(F.lower(F.col(text_col)))).withColumns(
        {
            score_col[lang]: F.size(
                F.array_intersect(
                    F.col(toks_col),
                    F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]),
                )
            )
            for lang in langs
        }
    )
    scored = scored.withColumn(
        best_col, F.greatest(*[F.col(score_col[lang]) for lang in langs])
    )
    guess = F.when(F.col(best_col) <= 0, F.lit("und"))
    for lang in langs:  # alphabetical order = deterministic tie-break
        guess = guess.when(F.col(score_col[lang]) == F.col(best_col), F.lit(lang))
    return scored.withColumn(out, guess).drop(
        toks_col, best_col, *score_col.values()
    )


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (A content-defined rolling hash reduces to the same shuffle key shape;
    md5 keeps the oracle exactly reproducible.)"""
    return F.md5(normalize_text(col))


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy record linkage: (a_id, b_id, dist) for pairs with
    Levenshtein distance ≤ ``max_dist`` within the same blocking-key group.

    Classic entity-resolution shape: the equi-join on ``block_cols`` keeps
    the candidate space to within-block pairs (never the O(n²) corpus), a
    length pre-filter |len(a)−len(b)| ≤ d discards non-candidates before
    the O(len²) edit-distance kernel, and levenshtein verifies — all
    JVM-side expressions.  At 100 TB the blocking key is the lever: pick
    one with bounded group sizes (sorted-neighborhood keys, phonetic codes,
    n-gram buckets) and skewed blocks split via AQE."""
    a = df.select(
        F.col(id_col).alias("a_id"), F.col(text_col).alias("_a_txt"), *block_cols
    )
    b = df.select(
        F.col(id_col).alias("b_id"), F.col(text_col).alias("_b_txt"), *block_cols
    )
    return (
        a.join(b, block_cols)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.abs(F.length("_a_txt") - F.length("_b_txt")) <= max_dist)
        .select("a_id", "b_id", F.levenshtein("_a_txt", "_b_txt").alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


#: PII-ish patterns, RE2-compatible so Spark (Java regex) and DuckDB (RE2)
#: agree byte-for-byte on the replacement result.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
NUM_RUN_RE = r"[0-9]{4,}"


def redact(col: Column, email_token: str = "<EMAIL>", num_token: str = "<NUM>") -> Column:
    """Pattern-based redaction (emails, long digit runs) — the scrubbing
    step of a pretraining pipeline.  Pure JVM regexp_replace: codegen'd,
    no Python in the hot path."""
    c = F.regexp_replace(col, EMAIL_RE, email_token)
    return F.regexp_replace(c, NUM_RUN_RE, num_token)


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level top-k word n-grams: tokenize once into an intermediate
    column (CollapseProject keeps the split single-evaluation), slide an
    n-window via sequence+element_at (1-based, matching SQL list indexing),
    explode, hash-aggregate.  The explode multiplies rows ~len(doc)×, but
    partial map-side aggregation collapses them before the one shuffle —
    the count state, not the n-gram stream, is what crosses the wire."""
    toks = tokens(F.lower(F.col(text_col)))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_tg_toks")) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_tg_toks"), i + j) for j in range(n)]
        ),
    )
    return (
        df.withColumn("_tg_toks", toks)
        .filter(F.size(F.col("_tg_toks")) >= n)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(k)
    )


def ngram_contamination(
    train: DataFrame,
    eval_: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Train/eval contamination check: for every training document, count
    the distinct word ``n``-grams it shares with the held-out eval set and
    how many distinct eval documents it collides with.

    100 TB path: each side explodes its DISTINCT per-doc n-grams and hashes
    them to a single ``xxhash64`` long BEFORE the join, so the shuffle key
    is 8 bytes instead of a ~50-byte string and the equi-join is an
    ordinary hash join.  The eval side of a real contamination scan (a few
    benchmark suites) is broadcast-sized even when the train side is the
    full corpus.  Collision odds at 64 bits are negligible relative to
    corpus sizes (~2^-24 at a trillion n-grams).
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        # tokenize into an attribute first: shingles()' transform lambda then
        # slices a materialized array instead of re-running the regex split
        # per element (same O(tokens²) trap as repetition_stats, same fix)
        return (
            df.select(F.col(id_col).alias(out_id), tokens(F.col(text_col)).alias("_toks"))
            .select(out_id, F.explode(shingles(F.col("_toks"), n)).alias("_g"))
            .withColumn("_gh", F.xxhash64("_g"))
            .drop("_g")
        )

    t = grams(train, "_train_id")
    e = grams(eval_, "_eval_id").distinct()
    hits = t.join(F.broadcast(e), "_gh")
    return (
        hits.groupBy("_train_id")
        .agg(
            F.count_distinct("_gh").alias("n_shared_ngrams"),
            F.count_distinct("_eval_id").alias("n_eval_docs"),
        )
        .withColumnRenamed("_train_id", id_col)
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Gopher-style within-document repetition: fraction of duplicate word
    ``n``-grams per document (1 - distinct/total).  Pure codegen'd array
    expressions — no shuffle at all; the filter threshold is applied by the
    caller so the stat stays reusable."""
    # Staged projections: `_toks` / `_grams` become materialized attributes,
    # so the lambda body slices an in-memory array.  Inlining everything into
    # one projection captures the tokenize expression inside the transform()
    # lambda and re-evaluates the regex split per element — O(tokens²) regex
    # work per document, measured 7× slower at sf0.1.  CollapseProject leaves
    # the stages alone because the aliases are non-cheap and multiply used.
    t1 = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    t2 = t1.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(-1))),
            lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, n), " "),
        ).alias("_grams"),
    )
    t3 = t2.select(
        F.col(id_col),
        F.size("_grams").cast("bigint").alias("n_ngrams"),
        F.size(F.array_distinct("_grams")).cast("bigint").alias("n_distinct"),
    )
    return t3.select(
        id_col,
        "n_ngrams",
        "n_distinct",
        F.when(
            F.col("n_ngrams") > 0,
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n_tokens_col: Column,
    capacity: int,
) -> DataFrame:
    """Fixed-boundary sequence packing: concatenate documents per group in
    ``id_col`` order and chop the token stream into ``capacity``-sized
    context windows; a document's bin is the window its first token lands
    in (the standard concat-then-chunk pretraining packer).

    One hash shuffle on ``group_col`` feeds the running-sum window; bin
    assignment is a map-side ``floor`` over the cumulative count.  At
    100 TB the group is a shard/source key, so windows never span the whole
    corpus and AQE handles group skew."""
    w = (
        W.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    before = F.sum(n_tokens_col).over(w) - n_tokens_col
    return df.select(
        F.col(group_col),
        F.col(id_col),
        n_tokens_col.cast("bigint").alias("n_tokens"),
        F.floor(before / capacity).cast("bigint").alias("bin"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int,
    stride: int,
) -> DataFrame:
    """Split each document into overlapping token-window chunks
    (``size`` tokens every ``stride``) — the context-window chunking step
    of an embedding/RAG pipeline.  sequence+posexplode+slice stays in
    whole-stage codegen; no shuffle, rows fan out ~len/stride×."""
    toks = tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        df.select(F.col(id_col), toks.alias("_toks"), F.explode(starts).alias("_start"))
        .select(
            F.col(id_col),
            (F.col("_start") / stride).cast("bigint").alias("chunk_id"),
            F.slice(F.col("_toks"), F.col("_start") + 1, F.lit(size)).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_chunk").cast("bigint").alias("n_chunk_tokens"),
            F.element_at("_chunk", 1).alias("first_token"),
        )
    )


def rebalance_mix(
    df: DataFrame,
    key_col: str,
    class_col: str,
    target: dict[str, float],
    buckets: int = 256,
) -> DataFrame:
    """Deterministic corpus mix rebalancing: downsample each class toward a
    target share of the output (the "data mixing" step of a training-data
    pipeline — e.g. cap English at 40% of tokens).

    Per-class keep rate = min(1, target_share × total / class_count),
    quantized to ``buckets`` md5 buckets.  A row is kept when its content
    hash bucket (first two md5 hex digits of the key) falls below the
    class's threshold — reproducible across runs, engines and cluster
    sizes, no RNG state.

    100 TB path: the class-count aggregate is tiny (|classes| rows) and is
    broadcast back onto the corpus; the filter itself is a pure map over
    the scan — the corpus never shuffles.  Classes absent from ``target``
    get rate 0 (dropped).
    """
    counts = df.groupBy(class_col).agg(F.count("*").alias("_cnt"))
    tgt = F.create_map(
        *[F.lit(x) for kv in target.items() for x in kv]
    )[F.col(class_col)]
    rates = counts.select(
        class_col,
        F.floor(
            F.least(
                F.lit(1.0),
                F.coalesce(tgt, F.lit(0.0))
                * F.sum("_cnt").over(W.partitionBy())
                / F.col("_cnt"),
            )
            * buckets
        )
        .cast("int")
        .alias("_thr"),
    )
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 2), 16, 10).cast("int")
    return (
        df.join(F.broadcast(rates), class_col)
        .where((F.col("_thr") >= buckets) | (bucket < F.col("_thr")))
        .drop("_thr")
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, entropy): Shannon entropy in bits over each document's character
    distribution — the classic cheap gibberish / compression-artifact /
    boilerplate detector (natural language ≈ 3.5-4.5 bits/char; base64
    blobs and repeated padding fall far outside).

    Plan: posexplode to characters → (doc, char) hash-count → per-doc
    -Σ p·log2 p — two map-side-combinable aggregates sharing one doc-key
    shuffle; no Python, no per-row UDF.  Documents are hash-repartitioned
    by id before the explode so the shuffle moves |docs| rows, not |chars|;
    with no explicit count AQE sizes that stage (coalesced on small inputs).
    """
    chars = (
        df.repartition(F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), "(?!^)")).alias("_c"),
        )
        .filter(F.col("_c") != "")
    )
    counts = chars.groupBy("_id", "_c").agg(F.count("*").alias("_n"))
    totals = counts.groupBy("_id").agg(F.sum("_n").alias("_tot"))
    return (
        counts.join(totals, "_id")
        .groupBy("_id")
        .agg(
            F.round(
                -F.sum(
                    (F.col("_n") / F.col("_tot"))
                    * F.log2(F.col("_n") / F.col("_tot"))
                ),
                4,
            ).alias("entropy")
        )
        .select(F.col("_id").alias(id_col), "entropy")
    )


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF (Spark has
    no built-in normalizer; the kernel is pure per-value Python over Arrow
    batches, embarrassingly parallel).  Web-scraped corpora mix composed
    and decomposed forms of the same grapheme — normalizing before hashing
    is what makes exact/near dedup see them as equal."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)

    # explicit returnType (no type-hint inference: postponed annotations in
    # this module would turn the pd.Series hints into unresolvable strings)
    return pandas_udf(_nfc, "string")(col)


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 8,
) -> DataFrame:
    """Chunk-level exact dedup with ordered document reassembly (the
    C4-style boilerplate-removal stage; battery `dedup_paragraph_exact`).

    Splits each document into ``chunk_words``-word spans, keeps each
    distinct chunk's FIRST occurrence ordered by (id, position), and
    stitches every document back together from its surviving chunks.
    Plan: one explode (fan-out = chunks/doc), ONE shuffle on the chunk
    text for the first-occurrence window (state: one row per distinct
    chunk), one id-key shuffle to reassemble.  Production variant
    shuffles a 128-bit chunk digest instead of the text (``dedup_exact``
    discipline).

    Returns (id, n_chunks, n_kept, kept_text).
    """
    c = (
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
        .withColumn("_toks", F.split("_text", " "))
        .withColumn(
            "_chunks",
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_toks) / {chunk_words}.0) "
                f"AS int) - 1), i -> array_join(slice(_toks, i * {chunk_words} + 1, "
                f"{chunk_words}), ' '))"
            ),
        )
        .select("_id", F.posexplode("_chunks").alias("_pos", "_chunk"))
    )
    w_first = W.partitionBy("_chunk").orderBy("_id", "_pos")
    w_doc = W.partitionBy("_id")
    r = c.withColumn("_rn", F.row_number().over(w_first)).withColumn(
        "_n_chunks", F.count("*").over(w_doc)
    )
    return (
        r.groupBy("_id")
        .agg(
            F.max("_n_chunks").cast("bigint").alias("n_chunks"),
            F.count(F.when(F.col("_rn") == 1, 1)).cast("bigint").alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_rn") == 1, F.struct("_pos", "_chunk")
                                )
                            )
                        ),
                        lambda s: s["_chunk"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
        .withColumnRenamed("_id", id_col)
    )
