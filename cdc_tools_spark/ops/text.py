"""Text analysis operators — language-ID, quality scoring, token counting,
fingerprinting — all pure ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen; zero Python in the hot path).

Every operator has one canonical definition used by both the Spark
implementation and the DuckDB oracle, so results are bit-comparable:

* tokens = whitespace split of trimmed text (empty text → no tokens);
* BPE-ish tokens = matches of ``[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]``;
* fingerprint = md5 of the sorted distinct tokens joined by single spaces
  (the classic key-collision / rolling fingerprint method);
* language-ID = argmax of marker-token hit counts with a fixed preference
  order (en > de > fr > es > zh, then 'und').
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "los", "y", "es", "las"),
    "zh": ("的", "是", "了", "在", "和"),
}
LANG_ORDER = ("en", "de", "fr", "es", "zh")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens; empty/blank text → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: alpha runs, digit runs, single punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH)).cast("long")


def _count_in(arr: Column, words: tuple[str, ...]) -> Column:
    lit_arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(arr, lambda x: F.array_contains(lit_arr, x))).cast("long")


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: lengths, token stats, stopword ratio,
    uniqueness ratio — the standard cheap pre-training filters. Tokenizes
    ONCE into a staged column — the former inline form re-ran the regex
    split per feature column (r7)."""
    base = df.select(
        F.col(id_col), F.col(text_col).alias("_text"), tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(F.col("_text")).cast("long")
    return base.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(F.col("_text")).alias("n_bpe_tokens"),
        F.round(
            F.when(n_tok > 0, _count_in(toks, STOPWORDS) / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(
            F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("unique_ratio"),
        F.round(
            F.when(
                n_tok > 0,
                (F.length(F.regexp_replace(F.trim(F.col("_text")), r"\s+", "")) / n_tok),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language heuristic: hit counts per language, argmax with
    fixed preference order; no hits at all → 'und'. One staged tokenize
    (the inline form re-split per language score, r7)."""
    base = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    scores = {lang: _count_in(toks, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties (applied last)
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return base.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER],
        pred.alias("lang_pred"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Key-collision fingerprint: md5 over the sorted distinct token set.
    Word-order- and duplication-insensitive document identity. One staged
    distinct-token pass shared by both output columns (r7)."""
    base = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("_dtoks")
    )
    return base.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", F.array_sort(F.col("_dtoks")))).alias("fingerprint"),
        F.size(F.col("_dtoks")).cast("long").alias("n_unique_tokens"),
    )


def _gram_array(toks: Column, n: int) -> Column:
    """Token n-gram occurrence array (non-distinct), array-native."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_bounds(S: Column) -> Column:
    """1-based start positions of the runs of a SORTED gram array: position
    1 plus every position whose gram differs from its predecessor. All
    primitive integer/string-compare ops — higher-order functions are
    evaluated interpreted (never codegen), so per-element work must stay
    minimal (an earlier fold carrying a 5-field struct accumulator
    measured 2× slower than this formulation)."""
    n = F.size(S)
    return F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            # F.get is 0-based and null out of bounds: at i = 1 the
            # predecessor is null and the null-safe compare admits the run
            lambda i: ~F.element_at(S, i).eqNullSafe(F.get(S, i - 2)),
        ),
    ).otherwise(F.array().cast("array<int>"))


def _run_lengths(B: Column, n: Column) -> Column:
    """Run lengths from run start positions ``B`` over an ``n``-gram array:
    ``L[j] = B[j+1] − B[j]`` (sentinel ``n+1`` past the last run)."""
    nb = F.size(B)
    return F.when(
        nb > 0,
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda j: F.when(j < nb, F.element_at(B, (j + 1).cast("int")))
            .otherwise(n + 1)
            - F.element_at(B, j.cast("int")),
        ),
    ).otherwise(F.array().cast("array<int>"))


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", 2021, appendix A1 — public quality heuristics): documents
    dominated by one repeated phrase or by duplicated n-grams are
    low-quality boilerplate/spam.

    Per document:

    * ``top_bigram`` — the most frequent token 2-gram (ties break to the
      lexicographically LARGEST gram — a fixed deterministic rule; null
      when the doc has < 2 tokens);
    * ``top_bigram_count`` / ``top_bigram_frac`` — its occurrence count
      and share of all 2-gram occurrences;
    * ``dup_trigram_frac`` — fraction of 3-gram OCCURRENCES whose gram
      appears more than once in the doc.

    Scale shape: a pure per-document projection — every signal depends on
    one document only, so each doc sorts its own gram array and reads run
    lengths off the sorted runs (``array_sort`` + boundary/length arrays
    of primitive ints): **zero shuffle, zero explode**. The round-6
    implementation exploded the corpus into per-occurrence gram rows and
    paid two corpus-sized two-level hash aggregations plus two joins back
    (optimization guide §2.4: remove shuffles outright when the grouping
    key is the row itself; measured 5.0 s → 3.8 s at sf1.0, and the
    removed shuffles are corpus-sized at 100 TB). The tie rule of
    ``max(struct(c, gram))`` — equal counts resolve to the
    lexicographically LARGEST gram — is reproduced by taking the LAST run
    (``array_max`` of run indexes) that reaches the best count: in
    ascending sorted order the later run IS the larger gram, so no string
    comparison is needed for the tie at all."""
    # tokenize ONCE into a column: the gram lambdas must not inline the
    # split expression (no cross-lambda subexpression sharing — O(n²), r7)
    st0 = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    st1 = st0.select(
        F.col(id_col),
        F.array_sort(_gram_array(F.col("_toks"), 2)).alias("S2"),
        F.array_sort(_gram_array(F.col("_toks"), 3)).alias("S3"),
    )
    st2 = st1.select(
        id_col, "S2",
        _run_bounds(F.col("S2")).alias("B2"), F.size("S2").alias("n2"),
        _run_bounds(F.col("S3")).alias("B3"), F.size("S3").alias("n3"),
    )
    st3 = st2.select(
        id_col, "S2", "B2", "n2", "n3",
        _run_lengths(F.col("B2"), F.col("n2")).alias("L2"),
        _run_lengths(F.col("B3"), F.col("n3")).alias("L3"),
    )
    best_c = F.array_max("L2")
    # last (= lexicographically largest) run index reaching the best count
    best_j = F.array_max(
        F.filter(
            F.sequence(F.lit(1), F.size("L2")),
            lambda j: F.element_at(F.col("L2"), j.cast("int")) == best_c,
        )
    )
    # occurrences sitting in runs of length >= 2 = all minus singleton runs
    dup3 = F.col("n3") - F.size(F.filter(F.col("L3"), lambda l: l == F.lit(1)))
    return st3.select(
        F.col(id_col),
        F.when(
            F.col("n2") > 0,
            F.element_at(
                F.col("S2"), F.element_at(F.col("B2"), best_j.cast("int")).cast("int")
            ),
        ).alias("top_bigram"),
        F.coalesce(best_c.cast("long"), F.lit(0)).alias("top_bigram_count"),
        F.when(F.col("n2") > 0, F.round(best_c / F.col("n2"), 6))
        .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        F.when(F.col("n3") > 0, F.round(dup3 / F.col("n3"), 6))
        .otherwise(F.lit(0.0)).alias("dup_trigram_frac"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_stopword_ratio: float = 0.02,
    min_unique_ratio: float = 0.35,
    min_avg_token_len: float = 3.8,
    max_avg_token_len: float = 5.2,
) -> DataFrame:
    """Gopher-style document-level quality gate (Rae et al. 2021, appendix
    A1.1 — public filtering heuristics; thresholds are parameters because
    they are corpus-tuned in every published pipeline): token-count range,
    minimum stop-word ratio, minimum unique-token ratio (repetition gate)
    and a mean-token-length band.

    Returns ``(doc_id, n_tokens, kept, fail_reasons)`` where
    ``fail_reasons`` is the comma-joined FIXED-ORDER list of failed rule
    names (empty string when kept) — the audit trail a curation pipeline
    keeps so every dropped document is attributable to a rule.

    Scale shape: a pure projection over :func:`quality_features` (JVM
    expressions only, no shuffle, no UDF); rules compare the same rounded
    features the feature query exports, so filter decisions are
    bit-reproducible in any engine."""
    feats = quality_features(df, text_col, id_col)
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("too_long", F.col("n_tokens") > max_tokens),
        ("low_stopword", F.col("stopword_ratio") < min_stopword_ratio),
        ("repetitive", F.col("unique_ratio") < min_unique_ratio),
        (
            "token_len",
            (F.col("avg_token_len") < min_avg_token_len)
            | (F.col("avg_token_len") > max_avg_token_len),
        ),
    ]
    # when(...) without otherwise -> NULL, which concat_ws skips: the
    # result is the ordered list of failed rules
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return feats.select(
        F.col(id_col),
        F.col("n_tokens"),
        (reasons == F.lit("")).alias("kept"),
        reasons.alias("fail_reasons"),
    )


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct word types with corpus frequency — the vocab-sized state
    BPE training iterates over (aggregating over types, not the corpus, is
    what makes BPE feasible at 100 TB: the corpus is read ONCE)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """Adjacent (left, right) symbol pairs of a symbol array."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("sym_left"),
                F.element_at(syms, i + 1).alias("sym_right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<sym_left:string,sym_right:string>>"))


def _pair_counts(words: DataFrame, syms_col: str = "syms") -> DataFrame:
    return (
        words.select("w", F.explode(_adjacent_pairs(F.col(syms_col))).alias("p"))
        .groupBy(F.col("p.sym_left").alias("sym_left"), F.col("p.sym_right").alias("sym_right"))
        .agg(F.sum("w").cast("long").alias("pair_count"))
    )


def _char_syms(word: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Initial byte-pair-encoding statistics (Sennrich, Haddow & Birch,
    "Neural Machine Translation of Rare Words with Subword Units", ACL
    2016 — the public BPE algorithm, without the end-of-word marker):
    corpus word-type frequencies, then character-level adjacent symbol
    pairs weighted by word frequency.

    Returns ``(sym_left, sym_right, pair_count)`` — the table whose argmax
    is BPE's first merge.

    Scale shape: one corpus-linear explode + hash aggregation down to word
    TYPES, then all pair work is vocab-sized; map-side partial aggregation
    at both levels, no UDF, no window."""
    words = _word_types(df, text_col)
    return _pair_counts(words.withColumn("syms", _char_syms(F.col("word"))))


def bpe_train(
    df: DataFrame, num_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Learn ``num_merges`` BPE merges (Sennrich et al. 2016): repeatedly
    take the most frequent adjacent symbol pair (ties break to the
    lexicographically SMALLEST (sym_left, sym_right) — a fixed
    deterministic rule) and fuse it throughout the vocabulary.

    Returns ``(merge_rank, sym_left, sym_right, pair_count)`` — the
    ordered merge table a tokenizer ships.

    Scale shape: the corpus is read once (word-type aggregation); each
    round is one vocab-sized aggregation for the argmax (a bounded
    1-row collect — the merge decision is inherently sequential) plus a
    fold-based symbol rewrite (``F.aggregate``; greedy left-to-right,
    matching the reference algorithm). ``localCheckpoint`` per round keeps
    the plan flat across iterations, the same pattern as
    :func:`cdc_tools_spark.ops.dedup.connected_components`."""
    words = (
        _word_types(df, text_col)
        .withColumn("syms", _char_syms(F.col("word")))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), "sym_left", "sym_right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, count = (
            top[0]["sym_left"],
            top[0]["sym_right"],
            top[0]["pair_count"],
        )
        merges.append((rank, left, right, count))
        merged, syms = left + right, F.col("syms")
        head = F.slice(syms, 1, 1)
        tail = F.when(F.size(syms) > 1, F.slice(syms, 2, F.size(syms) - 1)).otherwise(
            F.array().cast("array<string>")
        )
        # greedy left-to-right fuse: fold each symbol onto the rebuilt
        # array, replacing the tail element when it completes the pair
        fused = F.aggregate(
            tail,
            head,
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == F.lit(left)) & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        words = words.withColumn("syms", fused).localCheckpoint()
    return words.sparkSession.createDataFrame(
        merges,
        "merge_rank bigint, sym_left string, sym_right string, pair_count bigint",
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, chunk_id, chunk_text, n_tokens)`` — fixed-size token
    windows with overlap, the standard pre-training chunking pass: stride
    = ``chunk_tokens − overlap``; a doc of n tokens yields
    ``1 + ceil((n − chunk_tokens) / stride)`` chunks (one if it fits), the
    last possibly short; empty docs yield none.

    Array-native and integer-exact: tokenize once, window via
    ``transform(sequence(...), slice)``, ``posexplode`` — a linear
    projection with no shuffle and no floating point anywhere, so any
    engine reproduces it bit-for-bit."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # tokenize ONCE into a column — referencing the split expression inside
    # the window lambda would re-split the doc once per chunk (no
    # cross-lambda subexpression sharing, r7)
    base = df.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    # integer ceil via (x + stride - 1) div stride; Spark '/' on ints is
    # double division, so floor() lands back on the integer
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.when(n <= chunk_tokens, F.lit(1)).otherwise(
            F.lit(1) + F.floor((n - chunk_tokens + stride - 1) / F.lit(stride))
        )
    ).cast("long")
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.slice(toks, c * stride + 1, chunk_tokens),
    )
    out = base.select(
        F.col(id_col),
        F.posexplode(windows).alias("chunk_id", "_w"),
    )
    return out.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.col("_w")).alias("chunk_text"),
        F.size("_w").cast("long").alias("n_tokens"),
    )


def _md5_u32(salt: str, id_col: str) -> Column:
    """First 8 md5 hex chars of ``salt:id`` as a uint32-ranged long — the
    ONE deterministic-uniform primitive behind :func:`hash_split`,
    :func:`deterministic_sample` and :func:`pack_sequences`; their DuckDB
    oracles replicate this exact recipe, so any change here must change
    all three oracles together."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 256,
    n_shards: int = 8,
    salt: str = "p1",
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tok_col: str = "n_tokens",
) -> DataFrame:
    """Sequence packing — the step between chunking and training: chunks
    are concatenated in deterministic (doc, chunk) order and cut every
    ``seq_len`` tokens into training examples (concat-and-split packing,
    the standard pre-training practice; cut points fall mid-document by
    design).

    Packing is SHARD-LOCAL: each document hashes to one of ``n_shards``
    via the same md5-uniform as :func:`hash_split`, and the running token
    offset is computed within the shard only. That makes the operation
    embarrassingly parallel — no global order, no single-partition window
    — at the cost of at most one partial sequence per shard boundary. A
    shard's packing is invariant to every other shard's content, so packs
    are reproducible shard-by-shard. At 100 TB, ``n_shards`` is the
    parallelism knob: size it so one shard's chunk rows sort comfortably
    in one task (the per-shard window is a partition-local sort).

    Returns one row per chunk: ``(doc_id, chunk_id, shard, start_tok,
    pack_id, n_tokens)`` where ``start_tok`` is the chunk's token offset
    within its shard's concatenation and ``pack_id`` the sequence index
    (``start_tok div seq_len``) its first token lands in."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    shard = F.pmod(_md5_u32(salt, id_col), F.lit(n_shards)).cast("long")
    sharded = chunks.withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy(id_col, chunk_col)
    start = F.coalesce(
        F.sum(tok_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return sharded.select(
        F.col(id_col),
        F.col(chunk_col),
        F.col("shard"),
        start.alias("start_tok"),
        F.floor(start / F.lit(seq_len)).cast("long").alias("pack_id"),
        F.col(tok_col).cast("long").alias(tok_col),
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, split)`` — deterministic train/val/test assignment: the
    first 8 md5 hex chars of ``salt:id`` map to u ∈ [0, 1), assigned by
    cumulative weight. Per-id (not per-count), so membership is STABLE as
    the corpus grows — a doc never migrates between splits when new data
    arrives, the property a training pipeline actually needs. md5-based,
    hence bit-reproducible in any engine."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    u = _md5_u32(salt, id_col).cast("double") / F.lit(float(1 << 32))
    acc = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return df.select(F.col(id_col), expr.alias("split"))


def deterministic_sample(
    df: DataFrame,
    rate: float,
    salt: str = "v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic Bernoulli(rate) subset by the same md5-uniform as
    :func:`hash_split` — reproducible across engines, runs and corpus
    growth (unlike ``df.sample``, whose output depends on partitioning).
    Compose mixes by sampling each source at its own rate before union."""
    u = _md5_u32(salt, id_col).cast("double") / F.lit(float(1 << 32))
    return df.where(u < F.lit(float(rate)))
