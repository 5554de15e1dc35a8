"""Text-analysis operators for the training-data pipeline: language ID,
quality scoring, token counting, and document fingerprinting — all
pure Column expressions (JVM-side; no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language.  A real deployment
# would load fastText lid or cld3 via a pandas_udf; the operator shape
# (per-language evidence score → argmax) is the same.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans", "une", "pas"],
    "es": ["el", "la", "los", "que", "y", "es", "en", "un", "por", "con"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}


def words(text: Column) -> Column:
    """Whitespace tokens of the lowercased text.  Single ``\\s+`` split
    — same tokens as normalize-then-split in one regex pass."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count_from_words(ws: Column) -> Column:
    """Whitespace + BPE-ish token estimate over a word array: word
    count plus extra tokens for long words (≈1 token per 4 chars beyond
    the first 4) — a deterministic stand-in for a real tokenizer."""
    return F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc + 1 + F.floor(F.greatest(F.length(w) - 4, F.lit(0)) / 4).cast("long"),
    )


def token_count(text: Column) -> Column:
    """Column form of ``token_count_from_words``; hot paths should
    materialize ``words(text)`` once and use the _from_words variant
    (each Column-form call re-tokenizes the document)."""
    return token_count_from_words(words(text))


def lang_hits_from_words(ws: Column, lang: str) -> Column:
    """Evidence score for one language: number of word tokens that are
    in its stopword list."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))


def lang_id_from_words(ws: Column) -> Column:
    """Argmax of per-language stopword evidence over a word array; ties
    and zero evidence resolve to 'und' unless exactly one language
    leads.  Deterministic: languages are compared in a fixed order."""
    langs = list(LANG_STOPWORDS)
    hits = [lang_hits_from_words(ws, lg) for lg in langs]
    best = F.greatest(*hits)
    # Highest-evidence language, first in fixed order wins ties.
    expr = F.lit("und")
    for lg, h in reversed(list(zip(langs, hits))):
        expr = F.when((h == best) & (best > 0), F.lit(lg)).otherwise(expr)
    return expr


def lang_id(text: Column) -> Column:
    """Column form of ``lang_id_from_words`` (re-tokenizes per language
    list — stage the word array in hot paths)."""
    return lang_id_from_words(words(text))


def quality_score_from_words(text: Column, ws: Column) -> Column:
    """Heuristic document quality in [0, 1] over a pre-tokenized word
    array: rewards mid-length docs, penalizes punctuation soup and
    single-char tokens.  Mirrors the C4/Gopher-style screens in
    spirit."""
    n_chars = F.length(text)
    n_words = F.size(ws)
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    short_words = F.size(F.filter(ws, lambda w: F.length(w) <= 1))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.least(n_punct / F.greatest(n_chars, F.lit(1)) * 5.0, F.lit(1.0))
    short_penalty = F.least(short_words / F.greatest(n_words, F.lit(1)) * 2.0, F.lit(1.0))
    raw = len_score * (1.0 - punct_penalty) * (1.0 - short_penalty)
    return F.floor(raw * 10000 + F.lit(0.5)) / 10000


def quality_score(text: Column) -> Column:
    """Column form of ``quality_score_from_words``."""
    return quality_score_from_words(text, words(text))


# PII patterns chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB/engines without backtracking): character classes and
# bounded repetition only — no lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# At least 9 chars total (digit + 7 of [digit/space/dash] + digit) so
# short ids/order numbers don't false-positive.
PII_PHONE_RE = r"\+?\d[\d -]{7,}\d"


def redact_pii(text: Column) -> Column:
    """Text with emails then phone numbers replaced by placeholder
    tokens.  Emails are redacted FIRST so their digit runs can't
    double-count as phones."""
    no_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) — phones counted on the email-redacted
    form, mirroring the redaction nesting."""
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL_RE))
    n_phones = F.regexp_count(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"), F.lit(PII_PHONE_RE)
    )
    return n_emails, n_phones


def redact_pii_df(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document PII scrub: redacted text plus per-kind match counts
    (the audit trail a compliance pass needs).  Pure narrow projection —
    regex runs inside codegen, no shuffle, no Python."""
    n_emails, n_phones = pii_counts(F.col(text_col))
    return df.select(
        F.col(id_col),
        redact_pii(F.col(text_col)).alias("redacted"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition screen: per-document word counts and
    repetition ratios (a high top-word fraction / low distinct ratio
    marks boilerplate and degenerate generations).

    Shape: explode words → count per (doc, word) → fold per doc.  Both
    aggregations are hash aggregates with map-side partial combining;
    the (doc, word) key is near-unique so the first exchange carries
    roughly one row per distinct word occurrence — no hot keys (a
    stopword is spread across documents, and the per-document group is
    bounded by document length).
    """
    exploded = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("__w"))
    per_word = exploded.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__c"))
    n_words = F.sum("__c").cast("long")
    distinct_words = F.count(F.lit(1)).cast("long")
    top = F.max("__c").cast("long")
    return per_word.groupBy(id_col).agg(
        n_words.alias("n_words"),
        distinct_words.alias("distinct_words"),
        top.alias("top_word_count"),
        (distinct_words.cast("double") / n_words.cast("double")).alias("distinct_ratio"),
        (top.cast("double") / n_words.cast("double")).alias("top_word_frac"),
    )


def rarity_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
):
    """Unigram-LM rarity scoring — the CCNet-perplexity-shaped corpus
    quality filter, kept in EXACT integer arithmetic: per-token
    surprisal is the inverse unigram probability ``total/count(token)``
    (scaled by ``scale`` and floor-divided — an exact integer), and a
    document's score is the tf-weighted mean surprisal of its tokens.
    Low score ⇒ the document is made of common corpus language; high
    score ⇒ rare/garbled tokens.  Filtering on it ranks documents the
    same way CCNet's LM filter does for the unigram case, with no libm
    log and therefore bit-exact, partition-invariant results.

    Returns (id, n_tokens, rarity_scaled) where rarity_scaled ≈
    mean(total/count) * scale.

    Shape: one tf aggregation on (doc, token), one vocabulary
    aggregation on token, a token-keyed join of the two aggregated
    tables (hot common tokens are single vocabulary rows fanning into
    per-doc tf rows — AQE-splittable, never a cross product), the
    corpus-total single row rides in broadcast, and one final per-doc
    aggregation.  All counts are bigint; with default ``scale`` the
    tf·surprisal products stay far inside int64 up to ~10^9 corpus
    tokens — drop ``scale`` a decade per decade beyond that.
    """
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("w").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.expr(f"tf * ((total * CAST({scale} AS BIGINT)) div cnt)")).alias("__s"),
        )
        .select(
            "id",
            "n_tokens",
            F.expr("__s div n_tokens").alias("rarity_scaled"),
        )
    )


def bigram_rarity(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
):
    """Bigram-CONDITIONAL rarity — the context-sensitive complement of
    ``rarity_score``: per-bigram surprisal is the inverse conditional
    probability ``count(prefix) / count(bigram)`` (scaled, floor-
    divided — exact integers, no libm log), and a document's score is
    the tf-weighted mean over its bigrams.  A document of individually
    common words in UNUSUAL sequence (shuffled text, word salad)
    scores high where the unigram filter sees nothing wrong.

    Prefix counts derive from the bigram table itself (Σ over
    continuations), so numerator and denominator share one aggregation
    chain.  Documents with fewer than two words have no bigrams and no
    output row (filter before the bounded transform — Spark's
    ``sequence`` DESCENDS for start > stop).

    Returns (id, n_bigrams, cond_rarity_scaled).  Same int64 envelope
    as rarity_score (drop ``scale`` a decade per decade past ~10^9
    corpus bigrams).
    """
    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter(F.size("__ws") >= 2)
    big = toks.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1),"
                " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))"
            )
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    tf = big.groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    cbg = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("cbg"))
    cpre = cbg.groupBy("w1").agg(F.sum("cbg").alias("cpre"))
    return (
        tf.join(cbg, ["w1", "w2"])
        .join(cpre, "w1")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.expr(f"tf * ((cpre * CAST({scale} AS BIGINT)) div cbg)")).alias("__s"),
        )
        .select("id", "n_bigrams", F.expr("__s div n_bigrams").alias("cond_rarity_scaled"))
    )


def fingerprint(text: Column, k: int = 8) -> Column:
    """Document fingerprint: lexicographic min of md5 over word
    k-shingles — a deterministic winnowing-style signature that is
    stable under content reordering-free edits and portable across
    engines (md5 everywhere).  Column form; hot paths should use
    ``fingerprint_df`` (stage-materialized)."""
    from tiki_e_commerce_analytics_etl_spark.operators.dedup import shingles

    return F.array_min(F.transform(shingles(text, k), F.md5))


def fingerprint_df(df, text_col: str = "text", k: int = 8, out_col: str = "fp"):
    """DataFrame-level fingerprint with the word array materialized as
    a column first, so tokenization runs once per row instead of once
    per shingle position (lambda-inlining re-evaluation)."""
    from tiki_e_commerce_analytics_etl_spark.operators.dedup import shingles_from_words

    keep = df.columns
    return (
        df.withColumn("__words", words(F.col(text_col)))
        .withColumn(out_col, F.array_min(F.transform(shingles_from_words(F.col("__words"), k), F.md5)))
        .select(*keep, out_col)
    )


def top_ngrams(df, text_col: str = "text", id_col: str = "doc_id", n: int = 2, k: int = 100):
    """Corpus vocabulary builder: the ``k`` most frequent word
    ``n``-grams with corpus term frequency (every occurrence counts)
    and document frequency — the first step of building a tokenizer
    vocab or a stop-phrase list over a training corpus.

    Scale shape: the word array materializes once per row (no
    lambda-inlined re-tokenization), grams explode narrow, and the
    count is ONE hash aggregate keyed on the gram — hot grams ("of
    the") partial-aggregate map-side, so the shuffle carries one row
    per (partition, gram), not per occurrence.  The top-k is a
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Deterministic order: (tf desc, gram asc).
    """
    from tiki_e_commerce_analytics_etl_spark.operators.dedup import shingles_from_words

    exploded = (
        df.select(F.col(id_col), words(F.col(text_col)).alias("__words"))
        .select(id_col, F.explode(shingles_from_words(F.col("__words"), n)).alias("gram"))
    )
    return (
        exploded.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(F.col(id_col)).alias("doc_freq"),
        )
        .orderBy(F.desc("tf"), F.asc("gram"))
        .limit(k)
    )


def heavy_hitters_ngrams(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    k: int = 20,
    cap: int = 4096,
):
    """Exact top-``k`` frequent word ``n``-grams computed through a
    bounded-memory sketch: per-partition weighted MISRA-GRIES summaries
    (≤ ``cap`` counters each, vectorized pandas merge), candidates
    unioned, then ONE exact recount restricted to the candidates.

    Why not ``top_ngrams``?  Its hash aggregate holds the whole vocab
    in the agg hash map; at 100 TB a gram vocabulary in the billions
    spills every partition.  Here executor state is bounded at ``cap``
    counters regardless of vocabulary size, and the exact recount's
    aggregate is keyed on ≤ ``cap × partitions`` candidate grams
    semi-joined before the shuffle.

    Guarantee (Misra-Gries + mergeable-summaries): every gram with
    true frequency > total_grams/(cap+1) survives into the candidate
    set, so the recounted top-k equals the exact top-k whenever the
    k-th frequency clears that bound — at which point the output is
    BIT-IDENTICAL to the exact query (deterministic (tf desc, gram asc)
    order), which is how the oracle checks it.
    """
    import pandas as pd

    from tiki_e_commerce_analytics_etl_spark.operators.dedup import shingles_from_words

    exploded = (
        df.select(F.col(id_col), words(F.col(text_col)).alias("__words"))
        .select(id_col, F.explode(shingles_from_words(F.col("__words"), n)).alias("gram"))
    )

    def mg(batches):
        counters = pd.Series(dtype="float64")
        for pdf in batches:
            counters = counters.add(pdf["gram"].value_counts(), fill_value=0.0)
            if len(counters) > cap:
                # MG prune: subtract the (cap+1)-st largest count from
                # every counter, drop the non-positive — ≤ cap survive,
                # each true count undercounted by at most Σ deltas ≤
                # total/(cap+1).
                delta = counters.nlargest(cap + 1).iloc[-1]
                counters = counters[counters > delta] - delta
        yield pd.DataFrame(
            {"gram": counters.index.astype(str), "partial": counters.values.astype("int64")}
        )

    candidates = (
        exploded.select("gram")
        .mapInPandas(mg, "gram string, partial long")
        .select("gram")
        .distinct()
    )
    return (
        exploded.join(F.broadcast(candidates), "gram")  # candidate recount only
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(F.col(id_col)).alias("doc_freq"),
        )
        .orderBy(F.desc("tf"), F.asc("gram"))
        .limit(k)
    )


def split_passages(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 64,
    overlap: int = 16,
):
    """RAG-style passage chunking: cut each document into word windows
    of ``max_words`` advancing by ``max_words - overlap``, so adjacent
    passages share ``overlap`` words of context.  Output one row per
    passage: (id, passage_idx, passage, n_words) with passage_idx
    0-based in document order — (id, passage_idx) is the stable
    passage key retrieval indexes use.

    The final window is the tail from the last start offset (shorter
    than ``max_words``); a start offset that would produce a window
    fully contained in the previous one is not emitted (no duplicate
    tails).  Pure narrow plan: materialized word array → index
    sequence → slice per index → posexplode.  No shuffle; a 100 TB
    corpus chunks embarrassingly parallel.
    """
    if overlap >= max_words:
        raise ValueError("overlap must be smaller than max_words")
    step = max_words - overlap
    ws = F.col("__ws")
    n = F.size(ws)
    # Start offsets 1, 1+step, ... while start <= n - overlap (a start
    # beyond that yields a window fully inside the previous one); a
    # doc shorter than max_words is exactly one passage.
    last_start = F.greatest(n - F.lit(overlap), F.lit(1))
    starts = F.sequence(F.lit(1), last_start, F.lit(step))
    passages = F.transform(starts, lambda i: F.slice(ws, i, max_words))
    return (
        df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
        .select(F.col(id_col), F.posexplode(passages).alias("passage_idx", "__p"))
        .select(
            F.col(id_col),
            "passage_idx",
            F.concat_ws(" ", F.col("__p")).alias("passage"),
            F.size("__p").alias("n_words"),
        )
    )


def strip_common_tiles(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int = 5,
    broadcast_common: bool | None = None,
):
    """Duplicated-span removal (the RefinedWeb/CCNet curation stage):
    drop every non-overlapping k-word tile that appears in >= max_df
    DISTINCT documents (boilerplate — headers, footers, injected
    navigation) and reassemble each document from its surviving tiles
    in order.  Unlike ``dedup.duplicate_chunk_stats`` (which only
    MEASURES per-doc duplication), this REWRITES the corpus.

    Relational plan, three shuffles, no per-word explosion:

    1. tile rows via ONE higher-order projection (sequence →
       transform(slice) → posexplode) — n/k rows per doc, not n;
    2. tile document-frequency hash aggregate over the distinct
       (doc, tile) pairs (map-side combining; uniform md5-free keys);
    3. the removal join is a left_anti against the common-tile set.
       That set is usually small (only tiles repeated across >=
       max_df docs) but its size is DATA-DEPENDENT — a crawl where
       every site's nav/footer template repeats grows it with the
       corpus — so the default (``broadcast_common=None``) leaves the
       strategy to AQE, which broadcasts from the measured runtime
       size and degrades to a shuffle join when the set is large.
       Pass ``True`` to force the broadcast hint (size known small),
       ``False`` to forbid it;
    4. reassembly: one groupBy(doc) with an array_sort(collect_list)
       — tile_idx makes the order explicit, so the result is
       partitioning-invariant.

    Returns (id_col, clean_text, n_tiles, kept_tiles); documents whose
    every tile was boilerplate come back with clean_text = '' rather
    than disappearing."""
    if k < 1:
        raise ValueError("k must be >= 1")
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    n_tiles = F.ceil(F.size("__ws") / F.lit(k)).cast("int")
    # sequence(0, n-1) would run DESCENDING for n == 0; words() never
    # yields an empty array (split('') == ['']) so n_tiles >= 1 always.
    tiles = ws.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_tiles - F.lit(1)),
                lambda i: F.array_join(F.slice("__ws", i * k + 1, k), " "),
            )
        ).alias("tile_idx", "tile"),
    )
    common = (
        tiles.select("tile", id_col)
        .distinct()
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= max_df)
        .select("tile")
    )
    if broadcast_common is True:
        common = F.broadcast(common)
    elif broadcast_common is False:
        common = common.hint("shuffle_hash")
    kept = tiles.join(common, "tile", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tile_idx", "tile"))),
                lambda s: s["tile"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("kept_tiles"),
    )
    return (
        ws.select(F.col(id_col), n_tiles.alias("n_tiles"))
        .join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tiles",
            F.coalesce("kept_tiles", F.lit(0)).alias("kept_tiles"),
        )
    )


def char_entropy_ppm(text: Column) -> Column:
    """Character-level Shannon entropy of the text in integer
    micro-nats (floor(1e6 · H), H in nats) — the classic
    information-density screen (degenerate/repeated content scores
    near 0, natural prose ~3e6, random bytes ~ln(alphabet)·1e6).

    Formulation chosen for ORACLE bit-exactness: per distinct char c,
    count(c) = len − len(replace(text, c)); the fold runs over the
    BYTE-SORTED distinct-char array LEFT-TO-RIGHT (float addition is
    non-associative — a fixed order makes Spark's ``aggregate`` and
    DuckDB's ``list_reduce`` produce identical doubles, same libm ln).
    Cost is O(distinct_chars × len) per document of pure codegen
    string work — for natural text ~100× len, all narrow projection,
    versus the explode-per-char alternative whose (doc, char) shuffle
    would dwarf it at scale.  Empty/NULL text scores 0.
    """
    n = F.length(text)
    chars = F.array_sort(F.array_distinct(F.split(text, "")))
    cnt = lambda c: n - F.length(F.replace(text, c))  # noqa: E731
    term = lambda c: cnt(c).cast("double") * (  # noqa: E731
        F.log(n.cast("double")) - F.log(cnt(c).cast("double"))
    )
    ent = F.floor(
        F.lit(1e6)
        * F.aggregate(F.transform(chars, term), F.lit(0.0), lambda a, b: a + b)
        / n
    ).cast("long")
    return F.when(n.isNull() | (n == 0), F.lit(0).cast("long")).otherwise(ent)


def info_density(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document information-density report: character count and
    char-entropy (micro-nats).  Pure narrow projection — no shuffle,
    no Python."""
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        char_entropy_ppm(F.col(text_col)).alias("entropy_upnats"),
    )


def compression_screen(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
):
    """Per-document DEFLATE compression ratio — the Gopher/RefinedWeb
    "too compressible" quality rule: boilerplate and degenerate
    repetition compress far below natural prose.  Returns
    (id_col, n_bytes, compressed_bytes, ratio_ppm) with ratio_ppm =
    floor(1e6 · compressed / raw) (0 for empty text).

    Arrow-batched ``mapInPandas`` over the documents (stdlib zlib —
    deterministic for a fixed level, vendored nowhere); unlike the
    unique-word operators this is inherently per-document work, but
    it is embarrassingly parallel and byte-bounded.  No SQL oracle
    exists for DEFLATE output size, so the registered query carries a
    rows-only driver check; the invariants (repetition compresses
    harder than shuffled text, ratio bounds, determinism) are pinned
    in pytest instead.
    """
    import pandas as pd
    import zlib

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf[text_col]
            ]
            comp = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(b) for b in raw],
                    "compressed_bytes": comp,
                    "ratio_ppm": [
                        (1_000_000 * c) // len(b) if b else 0
                        for b, c in zip(raw, comp)
                    ],
                }
            )

    schema = (
        f"{id_col} long, n_bytes long, compressed_bytes long, ratio_ppm long"
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema)


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM + CCNet-style perplexity filtering (round 10b)
# ---------------------------------------------------------------------------

# Interpolated Kneser-Ney with absolute discount d = 3/4, multiplied
# through by 4 so every operand is an INTEGER column before the single
# double-division:  p(w2|w1) = (max(c-d,0) + d·N1+(w1·)·Pcont(w2)) / c(w1·)
# with Pcont(w2) = N1+(·w2)/D  becomes
#   (max(4·cbg-3, 0)·D + 3·n1p·ncont) / (4·cpre·D).
# The formula is ONE shared expression string evaluated by both Spark
# (F.expr) and the DuckDB oracle, so the IEEE operation order — and
# therefore every rounding — is identical (the psi_drift precedent).
_KN_PROB_SQL = (
    "(GREATEST(CAST(4 * cbg - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(dd AS DOUBLE)"
    " + 3.0E0 * CAST(n1p AS DOUBLE) * CAST(ncont AS DOUBLE))"
    " / (4.0E0 * CAST(cpre AS DOUBLE) * CAST(dd AS DOUBLE))"
)

# Held-out scoring form: the continuation distribution gets add-one
# smoothing over D + V1 outcomes (V1 = training vocabulary + 1 unseen
# bucket) so every probability is strictly positive — an unseen
# continuation word scores (0+1)/dv, an unseen PREFIX backs off to the
# smoothed continuation probability alone (pure KN backoff semantics).
_KN_SCORE_PROB_SQL = (
    "CASE WHEN cpre IS NULL THEN"
    " CAST(ncont0 + 1 AS DOUBLE) / CAST(dv AS DOUBLE)"
    " ELSE (GREATEST(CAST(4 * c0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(dv AS DOUBLE)"
    " + 3.0E0 * CAST(n1p AS DOUBLE) * CAST(ncont0 + 1 AS DOUBLE))"
    " / (4.0E0 * CAST(cpre AS DOUBLE) * CAST(dv AS DOUBLE)) END"
)


def _kn_bigram_stats(train, text_col: str, id_col: str):
    """Shared count tables of the bigram KN family: per-bigram counts
    ``cbg``, per-prefix totals/continuation-type counts (``cpre``,
    ``n1p``), per-word left-context-type counts ``ncont``, and the
    1-row scalars (D = distinct bigram types, V = vocabulary size).
    Three hash aggregations over one bigram explode — every key is a
    word or word pair (AQE handles the stopword skew), nothing
    collects."""
    toks = train.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 2) & (F.element_at("__ws", 1) != ""))
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1),"
                " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # four consumers derive from the count table (the model join, the
    # prefix/continuation stats, the scalar) and column pruning gives
    # each branch a DIFFERENT projection of the same subtree, so
    # ReuseExchange cannot dedup them — without the checkpoint the
    # corpus explode + aggregate executes once PER BRANCH (measured:
    # 8 scans in the executed plan).  The non-eager localCheckpoint
    # materializes the bounded count relation once at first use
    # (the hierarchy.py pointer-jumping precedent).
    cbg = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cbg"))
        .localCheckpoint(eager=False)
    )
    pre = cbg.groupBy("w1").agg(
        F.sum("cbg").alias("cpre"), F.count(F.lit(1)).alias("n1p")
    )
    cont = cbg.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    scal = cbg.agg(F.count(F.lit(1)).alias("dd"))
    vocab = (
        train.select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .agg(F.countDistinct("w").alias("v"))
    )
    return cbg, pre, cont, scal, vocab


def kn_bigram_lm(
    train,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney
    1995; Chen & Goodman 1999) trained relationally — the LM behind
    CCNet-style perplexity filtering (Wenzek et al. 2020), which the
    rarity/bigram_rarity screens approximate without smoothing.

    Returns one row per SEEN bigram: (w1, w2, cbg, cpre, n1p, ncont,
    prob_ppb) where prob_ppb = floor(1e9 · p_KN(w2|w1)) with absolute
    discount d = 3/4.  All model statistics are exact integers; the
    probability is ONE shared double formula (`_KN_PROB_SQL`) so the
    DuckDB oracle reproduces it bit-for-bit before the floor — no
    float summation anywhere (the discounted and continuation mass
    combine in a single expression per row).

    Scale shape: one bigram explode (O(corpus words) narrow rows),
    three hash aggregations (bigram / prefix / continuation keys, all
    map-side combining), two broadcast joins of the bounded scalar
    rows, and ordinary hash joins on word keys for the stats —
    exactly the bigram_rarity topology plus one more bounded
    aggregate.  The model table is O(distinct bigrams) — it never
    collects; apply-side consumers join it.
    """
    cbg, pre, cont, scal, _ = _kn_bigram_stats(train, text_col, id_col)
    return kn_bigram_lm_from_counts(cbg)


def kn_bigram_lm_from_counts(cbg):
    """The model-building back half of ``kn_bigram_lm``, taking a
    pre-aggregated bigram count table (w1, w2, cbg): prefix /
    continuation / scalar statistics re-derive from the count table
    alone, so two count tables that agree yield bit-identical
    models."""
    pre = cbg.groupBy("w1").agg(
        F.sum("cbg").alias("cpre"), F.count(F.lit(1)).alias("n1p")
    )
    cont = cbg.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    scal = cbg.agg(F.count(F.lit(1)).alias("dd"))
    return (
        cbg.join(pre, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(scal))
        .select(
            "w1",
            "w2",
            "cbg",
            "cpre",
            "n1p",
            "ncont",
            F.expr(
                f"CAST(FLOOR(1.0E9 * ({_KN_PROB_SQL})) AS BIGINT)"
            ).alias("prob_ppb"),
        )
    )


def kn_doc_logprob(
    train,
    score,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """CCNet-style held-out document scoring under the Kneser-Ney
    bigram LM of ``train``: per scored document, the MEAN bigram
    log-probability in integer micro-nats (floor(1e6 · Σ tf·ln p /
    n_bigrams)) — the ranking CCNet's perplexity filter sorts on
    (perplexity = exp(-mean logprob), a monotone transform, so
    bucketing on either is identical).

    Smoothing for held-out text: the continuation distribution takes
    add-one over D + V + 1 outcomes (`_KN_SCORE_PROB_SQL`), so unseen
    continuations and unseen prefixes score finite, strictly-positive
    probabilities (an unseen prefix backs off to the smoothed
    continuation probability — textbook KN backoff).

    ORACLE bit-exactness: each bigram's term tf·ln(p) is one shared
    double formula over exact integer columns, and the per-document
    sum folds the terms in PINNED (w1 ASC, w2 ASC) order left-to-right
    (float addition is non-associative — Spark ``aggregate`` over the
    array-sorted collect_list ≡ DuckDB ``list_reduce`` over
    ``list(term ORDER BY w1, w2)``; the char_entropy precedent).

    Scale shape: scored docs aggregate to (id, w1, w2, tf) first, so
    the LM joins touch one row per DISTINCT doc-bigram; three hash
    joins against the bounded-key model tables (left joins — OOV rows
    survive with NULL stats); scalars broadcast.  The per-doc
    collect_list is bounded by the document's distinct-bigram count —
    the same envelope as the document itself.
    """
    cbg, pre, cont, scal, vocab = _kn_bigram_stats(train, text_col, id_col)
    dv = (
        scal.crossJoin(F.broadcast(vocab))
        .select("dd", (F.col("dd") + F.col("v") + F.lit(1)).alias("dv"))
    )
    toks = score.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 2) & (F.element_at("__ws", 1) != ""))
    tf = (
        toks.select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1),"
                    " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("id", "bg.w1", "bg.w2")
        .groupBy("id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = (
        tf.join(cbg, ["w1", "w2"], "left")
        .join(pre, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(dv))
        .select(
            "id",
            "w1",
            "w2",
            "tf",
            F.coalesce(F.col("cbg"), F.lit(0)).alias("c0"),
            "cpre",
            "n1p",
            F.coalesce(F.col("ncont"), F.lit(0)).alias("ncont0"),
            "dv",
        )
        .select(
            "id",
            "w1",
            "w2",
            "tf",
            F.expr(
                f"CAST(tf AS DOUBLE) * ln({_KN_SCORE_PROB_SQL})"
            ).alias("term"),
        )
    )
    g = terms.groupBy("id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.array_sort(F.collect_list(F.struct("w1", "w2", "term"))).alias("__ts"),
    )
    total = F.aggregate(
        F.transform(F.col("__ts"), lambda t: t["term"]),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return g.select(
        "id",
        "n_bigrams",
        F.floor((F.lit(1.0e6) * total) / F.col("n_bigrams"))
        .cast("long")
        .alias("logprob_unats"),
    )


def gopher_repetition(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
):
    """The FULL Gopher repetition-signal suite (Rae et al. 2021 §A1.1,
    the formulas as reimplemented by Dolma / NeMo Curator): per
    document, for each small n the fraction of characters covered by
    the single most-covering repeated word n-gram, and for each large
    n the fraction of characters inside word n-grams occurring at
    least twice.  ``repetition_stats`` carries the unigram signals
    (distinct ratio, top-word fraction); this adds the n-gram family
    the published filter actually thresholds (e.g. drop docs with
    top_2_ppm > 0.20e6 or dup_10_ppm > 0.10e6).

    Determinism note: "top" maximizes cnt·len(gram) — the most
    CHARACTER-COVERING repeated n-gram — rather than "most frequent
    with an unspecified tiebreak", so both engines agree bit-exactly
    with a plain MAX.  Character coverage is the standard
    occurrence-count approximation (cnt · gram_chars), not the
    overlap-deduplicated position union (Dolma does the same); all
    fractions are floor-scaled integer ppm of the normalized document
    text (words joined by single spaces).

    Returns (id, n_words, n_chars, top_{n}_ppm ..., dup_{n}_ppm ...)
    with 0 where the document is shorter than n words.

    Scale shape: ONE n-gram explode with n as a column (fan-out
    bounded by len(ns) ≈ 9 rows per corpus word position), one
    (doc, n, gram) hash aggregate whose keys are near-unique, one
    (doc, n) fold, one conditional-aggregation pivot on the bounded n
    — no joins, no windows, no Python.  The count aggregate keys on
    xxhash64(gram) + length(gram), NOT the gram string: the formulas
    only ever consume a gram's COUNT and LENGTH, so shuffling the
    ~12-byte (hash, len) pair instead of up-to-10-word strings cuts
    the dominant shuffle's width ~5× (the round-11 10× decade read
    5.04× — shuffle-bytes-bound — against ~linear expected).  Trade:
    a 64-bit collision WITHIN one (doc, n) group would merge two
    grams' counts; at ≤ |doc| grams per group that is ~1e-13 per
    document, far below the float-determinism bar everything else
    clears.
    """
    ns = sorted(set(tuple(top_ns) + tuple(dup_ns)))
    # guarded spread (guide §2.5): the len(ns)-way gram explode does
    # ~9 slice/concat_ws evaluations per corpus word — on a
    # single-split scan that interpreted map work runs on one task
    from tiki_e_commerce_analytics_etl_spark.io import spread_small_scan

    df = spread_small_scan(df)
    base = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 1) & (F.element_at("__ws", 1) != ""))
    base = base.select(
        "id",
        "__ws",
        F.size("__ws").cast("long").alias("n_words"),
        F.length(F.array_join("__ws", " ")).cast("long").alias("n_chars"),
    )
    grams = (
        base.select(
            "id",
            "n_words",
            "n_chars",
            "__ws",
            F.explode(F.array(*[F.lit(n) for n in ns])).alias("n"),
        )
        .filter(F.size("__ws") >= F.col("n"))
        .select(
            "id",
            "n_words",
            "n_chars",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - n + 1),"
                    " s -> concat_ws(' ', slice(__ws, s, n)))"
                )
            ).alias("gram"),
        )
        # narrow the shuffle BEFORE the aggregate: count/length are all
        # the formulas consume, so the gram string never leaves the map
        # side (see docstring)
        .select(
            "id",
            "n_words",
            "n_chars",
            "n",
            F.xxhash64("gram").alias("gh"),
            F.length("gram").cast("long").alias("gl"),
        )
    )
    cnt = grams.groupBy("id", "n_words", "n_chars", "n", "gh", "gl").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_n = cnt.groupBy("id", "n_words", "n_chars", "n").agg(
        F.max(
            F.when(F.col("c") >= 2, F.col("c") * F.col("gl")).otherwise(
                F.lit(0)
            )
        ).alias("top_chars"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.col("gl")).otherwise(
                F.lit(0)
            )
        ).alias("dup_chars"),
    )
    aggs = []
    names = []
    for n in top_ns:
        names.append(f"top_{n}_ppm")
        aggs.append(
            F.max(
                F.when(
                    F.col("n") == n,
                    F.expr("(1000000 * top_chars) div n_chars"),
                )
            )
            .cast("long")
            .alias(f"top_{n}_ppm")
        )
    for n in dup_ns:
        names.append(f"dup_{n}_ppm")
        aggs.append(
            F.max(
                F.when(
                    F.col("n") == n,
                    F.expr("(1000000 * dup_chars) div n_chars"),
                )
            )
            .cast("long")
            .alias(f"dup_{n}_ppm")
        )
    metrics = per_n.groupBy("id").agg(*aggs)
    # docs shorter than min(ns) words have no gram rows at all — they
    # still emit a row (all metrics 0): filters consume this as a
    # per-doc join, a missing row would read as "not screened"
    return base.select("id", "n_words", "n_chars").join(
        metrics, "id", "left"
    ).select(
        "id",
        "n_words",
        "n_chars",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in names],
    )


# Trigram interpolated KN: the recursion Chen & Goodman (1999) eq. 18
# writes top-down, as ONE nested double formula over exact integer
# statistics (d = 3/4 at both levels, multiplied through).  Middle
# level uses CONTINUATION counts derived from the trigram table
# (nc123 = N1+(·w2w3), ncmid = N1+(·w2·), n1p2 = |{w3 : c(w2w3)>0}|),
# lowest level Pcont(w3) = ncont3/D2 over distinct (w2,w3) types.
_KN3_PROB_SQL = (
    "(GREATEST(CAST(4 * c123 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 3.0E0 * CAST(n1p12 AS DOUBLE) * ("
    "(GREATEST(CAST(4 * nc123 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(d2 AS DOUBLE)"
    " + 3.0E0 * CAST(n1p2 AS DOUBLE) * CAST(ncont3 AS DOUBLE))"
    " / (4.0E0 * CAST(ncmid AS DOUBLE) * CAST(d2 AS DOUBLE))))"
    " / (4.0E0 * CAST(c12 AS DOUBLE))"
)


def kn_trigram_lm(
    train,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Interpolated Kneser-Ney TRIGRAM LM — the full Chen & Goodman
    (1999) recursion that ``kn_bigram_lm`` shows one level of: the
    trigram level discounts raw counts and backs off into a bigram
    level built from CONTINUATION counts (how many distinct left
    contexts each bigram completes), which in turn backs off into the
    type-based unigram continuation distribution.  A 4/5-gram model is
    the same recursion once more — every statistic below derives from
    one n-gram count table by Σ/COUNT aggregates.

    Returns one row per SEEN trigram: (w1, w2, w3, c123, c12, n1p12,
    nc123, ncmid, n1p2, ncont3, prob_ppb) with prob_ppb = floor(1e9 ·
    p_KN(w3|w1,w2)), d = 3/4 at both levels.  All ten statistics are
    exact integers from hash aggregates; the probability is ONE nested
    shared double formula (`_KN3_PROB_SQL`) so the DuckDB oracle
    reproduces it bit-for-bit (the kn_bigram_lm pattern, one level
    deeper).

    Scale shape: one trigram explode (O(corpus words) narrow rows),
    then a cascade of hash aggregates each keyed one level shorter
    ((w1,w2,w3) → (w1,w2) / (w2,w3) → w2 / w3 → scalar) — every
    aggregation map-side combines, every join key is a word tuple with
    AQE-splittable skew, the scalar rides one broadcast.  The model
    table is O(distinct trigrams) and never collects.
    """
    toks = train.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 3) & (F.element_at("__ws", 1) != ""))
    tri = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 2),"
                " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2,"
                " __ws[i+1] AS w3))"
            )
        ).alias("tg")
    ).select("tg.w1", "tg.w2", "tg.w3")
    # checkpointed for the same multi-consumer reason as kn_bigram_lm's
    # count table: c123 feeds the model join + two stat cascades, nc
    # feeds three — without it the trigram explode executes per branch
    c123 = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .localCheckpoint(eager=False)
    )
    pre12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n1p12")
    )
    # continuation level: distinct left contexts per (w2, w3)
    nc = (
        c123.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("nc123"))
        .localCheckpoint(eager=False)
    )
    mid = nc.groupBy("w2").agg(
        F.sum("nc123").alias("ncmid"), F.count(F.lit(1)).alias("n1p2")
    )
    cont3 = nc.groupBy("w3").agg(F.count(F.lit(1)).alias("ncont3"))
    scal = nc.agg(F.count(F.lit(1)).alias("d2"))
    return (
        c123.join(pre12, ["w1", "w2"])
        .join(nc, ["w2", "w3"])
        .join(mid, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(scal))
        .select(
            "w1",
            "w2",
            "w3",
            "c123",
            "c12",
            "n1p12",
            "nc123",
            "ncmid",
            "n1p2",
            "ncont3",
            F.expr(
                f"CAST(FLOOR(1.0E9 * ({_KN3_PROB_SQL})) AS BIGINT)"
            ).alias("prob_ppb"),
        )
    )


# Held-out trigram scoring: the bigram scoring CASE one level deeper.
# Continuation distribution takes add-one over D2 + V + 1 outcomes;
# the middle level smooths the same way; an unseen (w1,w2) context
# backs off to the smoothed middle probability, an unseen w2 to the
# smoothed continuation floor.  Columns: c0 (trigram count), c12/n1p12
# (context stats, NULL if unseen), nc0 (continuation count), ncmid/
# n1p2 (middle stats, NULL if w2 unseen), ncont30, dv2 = D2 + V + 1.
_KN3_SCORE_MID_SQL = (
    "(GREATEST(CAST(4 * nc0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(dv2 AS DOUBLE)"
    " + 3.0E0 * CAST(n1p2 AS DOUBLE) * CAST(ncont30 + 1 AS DOUBLE))"
    " / (4.0E0 * CAST(ncmid AS DOUBLE) * CAST(dv2 AS DOUBLE))"
)
_KN3_SCORE_PROB_SQL = (
    "CASE WHEN c12 IS NOT NULL THEN"
    " (GREATEST(CAST(4 * c0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    f" + 3.0E0 * CAST(n1p12 AS DOUBLE) * ({_KN3_SCORE_MID_SQL}))"
    " / (4.0E0 * CAST(c12 AS DOUBLE))"
    f" WHEN ncmid IS NOT NULL THEN ({_KN3_SCORE_MID_SQL})"
    " ELSE CAST(ncont30 + 1 AS DOUBLE) / CAST(dv2 AS DOUBLE) END"
)


def kn3_doc_logprob(
    train,
    score,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Held-out document scoring under the TRIGRAM Kneser-Ney LM of
    ``train`` — ``kn_doc_logprob`` one backoff level deeper, so the
    trainer/scorer pair exists at both orders (train ∘ score symmetry):
    mean trigram log-probability in integer micro-nats, with the full
    backoff CASE — seen (w1,w2) context → discounted trigram estimate
    interpolated with the smoothed continuation-bigram level; unseen
    context but seen w2 → the smoothed middle level alone; unseen w2 →
    the add-one continuation floor (ncont3+1)/(D2+V+1).  Every branch
    strictly positive and finite.

    Same oracle bit-exactness recipe as the bigram scorer: one shared
    double formula per trigram term (`_KN3_SCORE_PROB_SQL`), pinned
    (w1, w2, w3)-order fold per document.

    Scale shape: scored docs aggregate to distinct (id, trigram) rows;
    four left hash joins against the trainer's aggregate cascade
    (context / continuation / middle / unigram-continuation keys);
    scalars broadcast; the per-doc fold is bounded by the document's
    distinct-trigram count.
    """
    toks = train.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 3) & (F.element_at("__ws", 1) != ""))
    tri = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 2),"
                " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2,"
                " __ws[i+1] AS w3))"
            )
        ).alias("tg")
    ).select("tg.w1", "tg.w2", "tg.w3")
    # multi-consumer checkpoints, same rationale as kn_trigram_lm
    c123 = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .localCheckpoint(eager=False)
    )
    pre12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n1p12")
    )
    nc = (
        c123.groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("nc123"))
        .localCheckpoint(eager=False)
    )
    mid = nc.groupBy("w2").agg(
        F.sum("nc123").alias("ncmid"), F.count(F.lit(1)).alias("n1p2")
    )
    cont3 = nc.groupBy("w3").agg(F.count(F.lit(1)).alias("ncont3"))
    vocab = (
        train.select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .agg(F.countDistinct("w").alias("v"))
    )
    dv2 = (
        nc.agg(F.count(F.lit(1)).alias("d2"))
        .crossJoin(F.broadcast(vocab))
        .select((F.col("d2") + F.col("v") + F.lit(1)).alias("dv2"))
    )
    stoks = score.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 3) & (F.element_at("__ws", 1) != ""))
    tf = (
        stoks.select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 2),"
                    " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2,"
                    " __ws[i+1] AS w3))"
                )
            ).alias("tg"),
        )
        .select("id", "tg.w1", "tg.w2", "tg.w3")
        .groupBy("id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = (
        tf.join(c123, ["w1", "w2", "w3"], "left")
        .join(pre12, ["w1", "w2"], "left")
        .join(nc, ["w2", "w3"], "left")
        .join(mid, "w2", "left")
        .join(cont3, "w3", "left")
        .crossJoin(F.broadcast(dv2))
        .select(
            "id",
            "w1",
            "w2",
            "w3",
            "tf",
            F.coalesce(F.col("c123"), F.lit(0)).alias("c0"),
            "c12",
            "n1p12",
            F.coalesce(F.col("nc123"), F.lit(0)).alias("nc0"),
            "ncmid",
            "n1p2",
            F.coalesce(F.col("ncont3"), F.lit(0)).alias("ncont30"),
            "dv2",
        )
        .select(
            "id",
            "w1",
            "w2",
            "w3",
            "tf",
            F.expr(
                f"CAST(tf AS DOUBLE) * ln({_KN3_SCORE_PROB_SQL})"
            ).alias("term"),
        )
    )
    g = terms.groupBy("id").agg(
        F.sum("tf").alias("n_trigrams"),
        F.array_sort(
            F.collect_list(F.struct("w1", "w2", "w3", "term"))
        ).alias("__ts"),
    )
    total = F.aggregate(
        F.transform(F.col("__ts"), lambda t: t["term"]),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return g.select(
        "id",
        "n_trigrams",
        F.floor((F.lit(1.0e6) * total) / F.col("n_trigrams"))
        .cast("long")
        .alias("logprob_unats"),
    )


# Gopher quality-filter thresholds (Rae et al. 2021 §A1.1, as
# reimplemented by Dolma / NeMo Curator), in the integer units the
# operator emits.  Published prose: 50..100k words, mean word length
# 3..10 chars, symbol-to-word ratio <= 0.1, <= 90% of lines bullet-
# started, <= 30% ellipsis-ended, >= 80% of words alphabetic, and at
# least 2 of 8 required English stop words present.
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_BULLET_CHARS = ["•", "‣", "▪", "-", "*"]
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len_centi": 300,
    "max_mean_word_len_centi": 1000,
    "max_symbol_word_ppm": 100_000,
    "max_bullet_line_ppm": 900_000,
    "max_ellipsis_line_ppm": 300_000,
    "min_alpha_word_ppm": 800_000,
    "min_stop_hits": 2,
}


def gopher_quality(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The non-repetition half of the Gopher quality suite (Rae et al.
    2021 §A1.1; ``gopher_repetition`` carries the n-gram half): per
    document the signals the published filter thresholds — word count,
    mean word length, symbol-to-word ratio (# and ellipsis), fraction
    of lines starting with a bullet / ending with an ellipsis, fraction
    of words containing an alphabetic character, and the required-
    stop-word rule — plus ``pass_gopher`` applying GOPHER_THRESHOLDS.

    All ratio signals are floor-scaled integer ppm (mean word length in
    integer centi-chars) so both engines agree bit-exactly; every doc
    emits a row (empty docs emit zeros and fail), because a filter
    consumes this as a per-doc join and a missing row would read as
    "not screened".

    Scale shape: one narrow projection — the word array materializes
    once and every signal is an expression over it (no explode, no
    shuffle, no Python).  A 100 TB corpus screens embarrassingly
    parallel; the heavier per-(doc,word) aggregate lives in
    ``repetition_stats`` / ``gopher_repetition``.
    """
    t = GOPHER_THRESHOLDS
    text = F.col(text_col)
    ws = words(text)
    empty = F.trim(text) == ""
    n_words = F.when(empty, F.lit(0)).otherwise(F.size(ws)).cast("long")
    word_chars = F.when(empty, F.lit(0)).otherwise(
        F.length(F.array_join(ws, ""))
    ).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    bullet = F.array(*[F.lit(c) for c in GOPHER_BULLET_CHARS])
    n_bullet = F.size(
        F.filter(lines, lambda l: F.array_contains(bullet, F.substring(F.trim(l), 1, 1)))
    ).cast("long")
    n_ellipsis_end = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("…") | F.trim(l).endswith("..."),
        )
    ).cast("long")
    n_alpha = F.when(empty, F.lit(0)).otherwise(
        F.size(F.filter(ws, lambda w: w.rlike("[a-z]")))
    ).cast("long")
    n_symbols = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
        + F.regexp_count(text, F.lit(r"\.{3}|…"))
    ).cast("long")
    sw = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    stop_hits = F.size(
        F.filter(sw, lambda s: F.array_contains(ws, s))
    ).cast("long")
    raw = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        word_chars.alias("__wc"),
        n_symbols.alias("__sym"),
        n_bullet.alias("__bul"),
        n_ellipsis_end.alias("__ell"),
        n_alpha.alias("__alpha"),
        stop_hits.alias("stop_hits"),
    )
    # Exact bigint floor-division (`div`), never double `/`: the ppm
    # values join the strict oracle gate bit-for-bit.
    out = raw.select(
        "id",
        "n_words",
        "n_lines",
        F.expr(
            "CASE WHEN n_words > 0 THEN (100 * __wc) div n_words ELSE 0 END"
        ).cast("long").alias("mean_word_len_centi"),
        F.expr(
            "CASE WHEN n_words > 0 THEN (1000000 * __sym) div n_words ELSE 0 END"
        ).cast("long").alias("symbol_word_ppm"),
        F.expr("(1000000 * __bul) div n_lines").cast("long").alias("bullet_line_ppm"),
        F.expr("(1000000 * __ell) div n_lines").cast("long").alias("ellipsis_line_ppm"),
        F.expr(
            "CASE WHEN n_words > 0 THEN (1000000 * __alpha) div n_words ELSE 0 END"
        ).cast("long").alias("alpha_word_ppm"),
        "stop_hits",
    )
    return out.withColumn(
        "pass_gopher",
        (F.col("n_words") >= t["min_words"])
        & (F.col("n_words") <= t["max_words"])
        & (F.col("mean_word_len_centi") >= t["min_mean_word_len_centi"])
        & (F.col("mean_word_len_centi") <= t["max_mean_word_len_centi"])
        & (F.col("symbol_word_ppm") <= t["max_symbol_word_ppm"])
        & (F.col("bullet_line_ppm") <= t["max_bullet_line_ppm"])
        & (F.col("ellipsis_line_ppm") <= t["max_ellipsis_line_ppm"])
        & (F.col("alpha_word_ppm") >= t["min_alpha_word_ppm"])
        & (F.col("stop_hits") >= t["min_stop_hits"]),
    )


# 4-gram interpolated KN: the Chen & Goodman recursion ONE level
# deeper than _KN3_PROB_SQL — raw 4-gram discounting backs off into a
# continuation-count trigram level, which backs off into the
# continuation-of-continuation bigram level, which backs off into the
# type-based unigram continuation (d = 3/4 at all three levels,
# multiplied through).  Every level is written as its own explicit
# nested fraction so the one shared text fixes the IEEE op order.
# Columns: c1234/c123/n1p123 (raw level), nc234/ncpre23/n1p23
# (continuation level), nnc34/ncmid3/n1p3 (second continuation),
# cont4/d3 (type level).
_KN4_PROB_SQL = (
    "(GREATEST(CAST(4 * c1234 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 3.0E0 * CAST(n1p123 AS DOUBLE) * ("
    "(GREATEST(CAST(4 * nc234 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " + 3.0E0 * CAST(n1p23 AS DOUBLE) * ("
    "(GREATEST(CAST(4 * nnc34 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(d3 AS DOUBLE)"
    " + 3.0E0 * CAST(n1p3 AS DOUBLE) * CAST(cont4 AS DOUBLE))"
    " / (4.0E0 * CAST(ncmid3 AS DOUBLE) * CAST(d3 AS DOUBLE))))"
    " / (4.0E0 * CAST(ncpre23 AS DOUBLE))))"
    " / (4.0E0 * CAST(c123 AS DOUBLE))"
)


def _quadgrams(df, text_col: str, id_col: str, with_id: bool = False):
    """([…, w1, w2, w3, w4) rows — one 4-gram explode, the only
    corpus-scale pass of the 4-gram family."""
    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws")
    ).filter((F.size("__ws") >= 4) & (F.element_at("__ws", 1) != ""))
    qg = toks.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 3),"
                " i -> struct(__ws[i-1] AS w1, __ws[i] AS w2,"
                " __ws[i+1] AS w3, __ws[i+2] AS w4))"
            )
        ).alias("qg"),
    )
    cols = (["id"] if with_id else []) + ["qg.w1", "qg.w2", "qg.w3", "qg.w4"]
    return qg.select(*cols)


def _kn4_stats(train, text_col: str, id_col: str):
    """The aggregate cascade all 4-gram consumers share: each level
    keyed one word shorter, each multi-consumer table checkpointed so
    the corpus explode executes once (the kn_trigram_lm rationale)."""
    quad = _quadgrams(train, text_col, id_col)
    c1234 = (
        quad.groupBy("w1", "w2", "w3", "w4")
        .agg(F.count(F.lit(1)).alias("c1234"))
        .localCheckpoint(eager=False)
    )
    pre123 = c1234.groupBy("w1", "w2", "w3").agg(
        F.sum("c1234").alias("c123"), F.count(F.lit(1)).alias("n1p123")
    )
    nc = (
        c1234.groupBy("w2", "w3", "w4")
        .agg(F.count(F.lit(1)).alias("nc234"))
        .localCheckpoint(eager=False)
    )
    pre23 = nc.groupBy("w2", "w3").agg(
        F.sum("nc234").alias("ncpre23"), F.count(F.lit(1)).alias("n1p23")
    )
    nnc = (
        nc.groupBy("w3", "w4")
        .agg(F.count(F.lit(1)).alias("nnc34"))
        .localCheckpoint(eager=False)
    )
    mid3 = nnc.groupBy("w3").agg(
        F.sum("nnc34").alias("ncmid3"), F.count(F.lit(1)).alias("n1p3")
    )
    cont4 = nnc.groupBy("w4").agg(F.count(F.lit(1)).alias("cont4"))
    scal = nnc.agg(F.count(F.lit(1)).alias("d3"))
    return c1234, pre123, nc, pre23, nnc, mid3, cont4, scal


def kn_4gram_lm(
    train,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Interpolated Kneser-Ney 4-GRAM LM — ``kn_trigram_lm``'s
    recursion applied once more, cashing the docstring claim that a
    higher-order model is the same cascade one level deeper: the raw
    4-gram level discounts counts and backs off into a trigram level
    built from continuation counts N1+(·w2w3w4), which backs off into
    the bigram level of second-order continuation counts N1+(··w3w4),
    which backs off into the type-based unigram continuation.

    Returns one row per SEEN 4-gram: (w1..w4, eleven exact integer
    statistics, prob_ppb = floor(1e9 · p_KN(w4|w1w2w3))), d = 3/4 at
    all three levels; the probability is ONE nested shared double
    formula (`_KN4_PROB_SQL`) so the DuckDB oracle reproduces it
    bit-for-bit.

    Scale shape: one 4-gram explode, then the hash-aggregate cascade
    each keyed one word shorter ((w1..w4) → (w1,w2,w3) / (w2,w3,w4) →
    (w2,w3) → (w3,w4) → w3 / w4 → scalar); every aggregation map-side
    combines; the model table is O(distinct 4-grams) and never
    collects.
    """
    c1234, pre123, nc, pre23, nnc, mid3, cont4, scal = _kn4_stats(
        train, text_col, id_col
    )
    return (
        c1234.join(pre123, ["w1", "w2", "w3"])
        .join(nc, ["w2", "w3", "w4"])
        .join(pre23, ["w2", "w3"])
        .join(nnc, ["w3", "w4"])
        .join(mid3, "w3")
        .join(cont4, "w4")
        .crossJoin(F.broadcast(scal))
        .select(
            "w1",
            "w2",
            "w3",
            "w4",
            "c1234",
            "c123",
            "n1p123",
            "nc234",
            "ncpre23",
            "n1p23",
            "nnc34",
            "ncmid3",
            "n1p3",
            "cont4",
            F.expr(
                f"CAST(FLOOR(1.0E9 * ({_KN4_PROB_SQL})) AS BIGINT)"
            ).alias("prob_ppb"),
        )
    )


# Held-out 4-gram scoring: the trigram scoring CASE one level deeper.
# The bottom two levels take add-one smoothing over dv3 = D3 + V + 1
# outcomes; each unseen-context step falls through to the next
# smoothed level.  Columns: c0/c123/n1p123 (raw, context NULL if
# unseen), nc0/ncpre23/n1p23 (continuation), nnc0/ncmid3/n1p3 (second
# continuation), cont40, dv3.
_KN4_SCORE_LOW_SQL = (
    "(GREATEST(CAST(4 * nnc0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    " * CAST(dv3 AS DOUBLE)"
    " + 3.0E0 * CAST(n1p3 AS DOUBLE) * CAST(cont40 + 1 AS DOUBLE))"
    " / (4.0E0 * CAST(ncmid3 AS DOUBLE) * CAST(dv3 AS DOUBLE))"
)
_KN4_SCORE_MID_SQL = (
    "(GREATEST(CAST(4 * nc0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    f" + 3.0E0 * CAST(n1p23 AS DOUBLE) * ({_KN4_SCORE_LOW_SQL}))"
    " / (4.0E0 * CAST(ncpre23 AS DOUBLE))"
)
_KN4_SCORE_PROB_SQL = (
    "CASE WHEN c123 IS NOT NULL THEN"
    " (GREATEST(CAST(4 * c0 - 3 AS DOUBLE), CAST(0 AS DOUBLE))"
    f" + 3.0E0 * CAST(n1p123 AS DOUBLE) * ({_KN4_SCORE_MID_SQL}))"
    " / (4.0E0 * CAST(c123 AS DOUBLE))"
    f" WHEN ncpre23 IS NOT NULL THEN ({_KN4_SCORE_MID_SQL})"
    f" WHEN ncmid3 IS NOT NULL THEN ({_KN4_SCORE_LOW_SQL})"
    " ELSE CAST(cont40 + 1 AS DOUBLE) / CAST(dv3 AS DOUBLE) END"
)


def kn4_doc_logprob(
    train,
    score,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Held-out document scoring under the 4-GRAM Kneser-Ney LM of
    ``train`` — train ∘ score symmetry at the third order: mean
    4-gram log-probability in integer micro-nats with the full
    four-level backoff CASE (seen (w1,w2,w3) context → interpolated
    discounted estimate; unseen context, seen (w2,w3) → smoothed
    continuation level; unseen (w2,w3), seen w3 → smoothed second
    continuation; unseen w3 → add-one floor (cont4+1)/(D3+V+1)).
    Every branch strictly positive and finite; one shared double
    formula per term, pinned (w1..w4)-order fold per document.

    Scale shape: scored docs aggregate to distinct (id, 4-gram) rows;
    six left hash joins against the trainer's cascade; scalars
    broadcast; the fold is bounded by the document's distinct-4-gram
    count.
    """
    c1234, pre123, nc, pre23, nnc, mid3, cont4, scal = _kn4_stats(
        train, text_col, id_col
    )
    vocab = (
        train.select(F.explode(words(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .agg(F.countDistinct("w").alias("v"))
    )
    dv3 = (
        scal.crossJoin(F.broadcast(vocab))
        .select((F.col("d3") + F.col("v") + F.lit(1)).alias("dv3"))
    )
    tf = (
        _quadgrams(score, text_col, id_col, with_id=True)
        .groupBy("id", "w1", "w2", "w3", "w4")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = (
        tf.join(c1234, ["w1", "w2", "w3", "w4"], "left")
        .join(pre123, ["w1", "w2", "w3"], "left")
        .join(nc, ["w2", "w3", "w4"], "left")
        .join(pre23, ["w2", "w3"], "left")
        .join(nnc, ["w3", "w4"], "left")
        .join(mid3, "w3", "left")
        .join(cont4, "w4", "left")
        .crossJoin(F.broadcast(dv3))
        .select(
            "id",
            "w1",
            "w2",
            "w3",
            "w4",
            "tf",
            F.coalesce(F.col("c1234"), F.lit(0)).alias("c0"),
            "c123",
            "n1p123",
            F.coalesce(F.col("nc234"), F.lit(0)).alias("nc0"),
            "ncpre23",
            "n1p23",
            F.coalesce(F.col("nnc34"), F.lit(0)).alias("nnc0"),
            "ncmid3",
            "n1p3",
            F.coalesce(F.col("cont4"), F.lit(0)).alias("cont40"),
            "dv3",
        )
        .select(
            "id",
            "w1",
            "w2",
            "w3",
            "w4",
            "tf",
            F.expr(
                f"CAST(tf AS DOUBLE) * ln({_KN4_SCORE_PROB_SQL})"
            ).alias("term"),
        )
    )
    g = terms.groupBy("id").agg(
        F.sum("tf").alias("n_4grams"),
        F.array_sort(
            F.collect_list(F.struct("w1", "w2", "w3", "w4", "term"))
        ).alias("__ts"),
    )
    total = F.aggregate(
        F.transform(F.col("__ts"), lambda t: t["term"]),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return g.select(
        "id",
        "n_4grams",
        F.floor((F.lit(1.0e6) * total) / F.col("n_4grams"))
        .cast("long")
        .alias("logprob_unats"),
    )


def collapse_word_stutter(df, text_col: str = "text", id_col: str = "doc_id"):
    """Intra-document stutter removal: collapse runs of the SAME
    consecutive word to one occurrence ("batch batch batch" → "batch")
    — the cheap degenerate-repetition cleaner that runs before the
    window-based cross-doc dedup family (crawl text is full of
    stuttered tokens from pagination glitches, marquee widgets, and
    OCR).  Word-level twin of gopher_repetition's measurement: this
    REWRITES; the Gopher screen only scores.

    Pure narrow projection — the word array materializes once as a
    column (the higher-order-function re-evaluation trap: inlining
    ``words(text)`` into the filter lambda would re-tokenize per
    element), then one indexed ``filter`` keeps position i iff i = 0
    or w[i] ≠ w[i-1].  No shuffle, no state; order is preserved by
    construction.

    Returns (id_col, clean_text, n_words, kept_words).
    """
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    kept = F.filter(
        F.col("__ws"),
        lambda x, i: (i == F.lit(0)) | (x != F.element_at(F.col("__ws"), i)),
    )
    return ws.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__ws").alias("n_words"),
        F.size(kept).alias("kept_words"),
    )


def vocab_growth(df, text_col: str = "text", id_col: str = "doc_id", deciles: int = 10):
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct-word
    count and cumulative token count at ``deciles`` corpus-prefix
    checkpoints (prefixes in ``id_col`` order) — the diagnostic that
    tells a corpus builder whether new data is still contributing new
    vocabulary (V ≈ K·N^β with β ≈ 0.4-0.6 for natural text; a flat
    curve means the crawl is recycling itself, a β near 1 means noise).

    Scale shape — no global sort, no empty-partition window:
    1. per-word FIRST occurrence = one hash aggregate (min doc id);
    2. checkpoint thresholds = one `percentile` aggregate (1 row,
       broadcast);
    3. cumulative counts = corpus-sized relations cross-joined with
       the BROADCAST checkpoint relation (bounded ×deciles fan-out)
       into a hash aggregate keyed on the bounded decile id.
    Returns (decile, doc_threshold, cum_vocab, cum_tokens).
    """
    fracs = ", ".join(
        f"{(i + 1) / deciles!r}" for i in range(deciles)
    )
    cps = (
        df.agg(F.expr(f"percentile({id_col}, array({fracs}))").alias("__t"))
        .select(F.posexplode("__t").alias("__i", "doc_threshold"))
        .select(
            (F.col("__i") + 1).cast("int").alias("decile"), "doc_threshold"
        )
    )
    ws = df.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    firsts = (
        ws.select(F.col(id_col), F.explode("__ws").alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.min(id_col).alias("__first"))
    )
    cum_vocab = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("__first") <= F.col("doc_threshold"))
        .groupBy("decile", "doc_threshold")
        .agg(F.count(F.lit(1)).alias("cum_vocab"))
    )
    cum_tokens = (
        ws.select(
            F.col(id_col),
            F.size(F.filter(F.col("__ws"), lambda x: x != "")).alias("__n"),
        )
        .crossJoin(F.broadcast(cps))
        .filter(F.col(id_col) <= F.col("doc_threshold"))
        .groupBy("decile")
        .agg(F.sum("__n").cast("long").alias("cum_tokens"))
    )
    return cum_vocab.join(cum_tokens, "decile").select(
        "decile", "doc_threshold", "cum_vocab", "cum_tokens"
    )


def _word_ngrams(ws: Column, n: int) -> Column:
    """Space-joined word n-grams of a word array (positions
    1..len-n+1); ``n=1`` returns the array itself.  Empty when the
    document has fewer than ``n`` words — guarded with ``when``
    because ``F.sequence(1, 0)`` would DESCEND ([1, 0]) rather than
    produce an empty range."""
    if n == 1:
        return ws
    return F.when(
        F.size(ws) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def blocklist_screen(
    df,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
    route: str = "auto",
    join_threshold: int = 256,
):
    """C4-style blocklist screen (Raffel et al. 2020 §2.2 drop any
    page containing a "List of Dirty, Naughty …" term): per-doc hit
    counting against a term list with the keep/drop verdict attached —
    counts rather than a bare filter, because curation audits want the
    near-miss distribution, not just the survivor set.

    Terms may be MULTI-WORD PHRASES (the real C4 list has 2-4-word
    entries): every term is normalized like the document text
    (lowercase, whitespace collapsed to single spaces) and matched
    against the document's word n-grams at exactly the word counts
    present in the list — a 1/2/3-word list costs one extra bounded
    explode per DISTINCT size, never a per-term scan.  A phrase hit
    counts once per n-gram OCCURRENCE (overlaps included), mirroring
    the per-word-occurrence rule for single words.  NULL text
    normalizes to an empty word array so both routes emit
    (0, 0, false) — not route-dependent size(NULL) semantics.

    Two physical routes with identical semantics (equivalence pytest
    in tests/test_round11.py and tests/test_round12.py), chosen like
    ``dedup._auto_agree``:

    * ``"literal"`` — the word/n-gram arrays materialize once, hits
      are per-size ``array_contains`` passes against the LITERAL term
      arrays.  Right for short lists: no shuffle at all, but the
      comparison work is O(grams × terms) and the Catalyst expression
      grows with the list — the real C4 list (~2.6k terms) or a
      100k-phrase PII/safety list would bloat every task's codegen.
    * ``"join"`` — words and n-grams explode to rows and equi-join a
      BROADCAST (term) relation (O(grams) hash probes regardless of
      list size; sizes never cross-match because an n-gram of size
      ≥ 2 contains a space and a single-word term cannot), hits
      re-aggregate per doc, zero-hit docs rejoin via a left join on
      the doc spine.  Scales to arbitrarily long lists; costs one
      explode per distinct size + two hash aggregates (measured at a
      100k-phrase list).
    * ``"auto"`` (default) — ``join`` when the normalized list
      exceeds ``join_threshold`` else ``literal``.  The 256 default
      is the measured crossover (blocklist ladder at sf0.1: literal
      0.65 s vs join 0.81 s at 256 terms, 1.25 s vs 0.69 s at 512,
      5.83 s vs 0.65 s at 2,600 — the join route is flat in list
      size, the literal route linear; the crossover in
      TERM COUNT is roughly scale-free because both the per-term
      compare and the per-gram hash probe are per-gram costs).

    ``flagged`` = n_hits > max_hits.  Duplicate terms (post
    normalization) deduplicate; empty terms drop.

    Returns (id_col, n_hits, distinct_hits, flagged).
    """
    if route not in ("auto", "literal", "join"):
        raise ValueError(f"route must be auto|literal|join, got {route!r}")
    norm_terms = [t for t in dict.fromkeys(" ".join(t.lower().split()) for t in terms) if t]
    if route == "auto":
        route = "join" if len(norm_terms) > join_threshold else "literal"
    by_size: dict[int, list[str]] = {}
    for t in norm_terms:
        by_size.setdefault(t.count(" ") + 1, []).append(t)
    ws = df.select(
        F.col(id_col),
        F.coalesce(words(F.col(text_col)), F.array().cast("array<string>")).alias(
            "__ws"
        ),
    )
    if route == "literal":
        hit_arrays = [
            F.filter(
                _word_ngrams(F.col("__ws"), n),
                lambda x: F.array_contains(
                    F.array(*[F.lit(t) for t in ts]), x
                ),
            )
            for n, ts in sorted(by_size.items())
        ]
        hits = (
            F.concat(*hit_arrays)
            if hit_arrays
            else F.array().cast("array<string>")
        )
        return ws.select(
            F.col(id_col),
            F.size(hits).alias("n_hits"),
            F.size(F.array_distinct(hits)).alias("distinct_hits"),
            (F.size(hits) > F.lit(max_hits)).alias("flagged"),
        )
    tdf = (
        df.sparkSession.createDataFrame([(t,) for t in norm_terms], "__w string")
        if norm_terms
        else df.sparkSession.createDataFrame([], "__w string")
    )
    cands = None
    for n in sorted(by_size):
        part = ws.select(
            F.col(id_col), F.explode(_word_ngrams(F.col("__ws"), n)).alias("__w")
        )
        cands = part if cands is None else cands.unionByName(part)
    if cands is None:
        cands = ws.select(F.col(id_col), F.lit("").alias("__w")).limit(0)
    matched = (
        cands.filter(F.col("__w") != "")
        .join(F.broadcast(tdf), "__w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("__nh"),
            F.count_distinct("__w").cast("int").alias("__dh"),
        )
    )
    return (
        ws.select(F.col(id_col))
        .join(matched, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__nh", F.lit(0)).alias("n_hits"),
            F.coalesce("__dh", F.lit(0)).alias("distinct_hits"),
            (F.coalesce("__nh", F.lit(0)) > F.lit(max_hits)).alias("flagged"),
        )
    )
