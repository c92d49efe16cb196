"""Text-analysis operators for large-scale corpus pipelines.

All pure pyspark.sql expressions (JVM-side; higher-order-function
lambdas are interpreted, not generated code): tokenization, token
counting, quality scoring, stopword-based language scoring,
rolling-hash document fingerprinting. These extend the reference's
text-normalization/filter semantics (davar_loading.py:226-240,
davar_rcg_dataset.py:550-552) to the corpus-analytics operations a
training-data pipeline needs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# a small deterministic English stopword list (public knowledge)
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "from",
]

PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def normalize_text(col) -> F.Column:
    """Case fold + strip punctuation (the davar text-normalization /
    punctuation-filter semantics, davar_loading.py:763-830 +
    davar_rcg_dataset.py:550-552)."""
    return F.translate(F.lower(col), PUNCT, "")


def tokenize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Explode text into (id, ord, tok); ord is the 1-based pre-filter
    position so it is stable under empty-token removal."""
    return (
        df.select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"))
        .filter(F.col("tok") != "")
        .select(id_col, (F.col("pos") + 1).alias("ord"), "tok")
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counting: n_tokens, n_uniq, avg token length.

    ONE shuffle (r6): countDistinct inside a groupBy plans as a
    two-phase expand (two Exchanges); since the distinct is scoped to
    the group, size(collect_set) inside the single groupBy gives the
    same number with one Exchange. avg as sum(len)/count is the exact
    same double division the Average aggregate performs. Memory trade:
    the aggregation buffer holds one doc's distinct tokens
    (O(document) single-key state, the engine's accepted envelope —
    same as the extract span re-assembly) instead of spreading the
    distinct over (id, tok) keys via a second shuffle."""
    toks = tokenize(df, text_col, id_col)
    return toks.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.size(F.collect_set("tok")).cast("bigint").alias("n_uniq"),
        F.round(
            F.sum(F.length("tok")).cast("double") / F.count("*").cast("double"), 4
        ).alias("avg_tok_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean word length — the corpus-filter signals."""
    arr = F.split(F.col(text_col), " ")
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(F.translate(F.col(text_col), PUNCT, ""))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(arr, lambda t: F.array_contains(sw, F.lower(t))))
    n_tok = F.size(F.filter(arr, lambda t: t != ""))
    return df.select(
        id_col,
        n_chars.alias("n_chars_m"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            (n_chars - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 4
        ).alias("avg_word_len"),
        n_tok.alias("n_tokens"),
    )


def lang_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit-ratio language-ID score (n-gram-heuristic family):
    fraction of tokens that are English stopwords; classify en if >= 5%."""
    q = quality_score(df, text_col, id_col)
    return q.select(
        id_col,
        F.col("stopword_ratio").alias("en_score"),
        F.when(F.col("stopword_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias(
            "pred_lang"
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite): the minimum
    md5 over all k-char shingles of the normalized text. Equal texts ->
    equal fingerprints; robust to token order only as far as shingles
    overlap.

    The normalized text is bound as a column before the shingle lambda:
    an expression written inside a higher-order-function lambda is
    evaluated once per element, which made every shingle re-normalize
    the whole text (O(n^2) per document)."""
    norm = F.col("_norm")
    n = F.length(norm)
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.md5(norm.substr(i, F.lit(k))),
    )
    return df.select(id_col, normalize_text(F.col(text_col)).alias("_norm")).select(
        id_col,
        F.array_min(shingle_hashes).alias("fp"),
    )


# GPT-2-family pretokenizer shape, simplified to a dialect both Java
# regex (Spark) and RE2 (DuckDB) evaluate identically: contractions,
# letter runs, digit runs, punctuation runs, each optionally preceded
# by one space; remaining whitespace runs. Whitespace is an EXPLICIT
# class, not \s: Java's \s includes vertical tab, RE2's does not, and
# that one character would silently break the oracle hash parity.
BPE_WS = r"\t\n\x0B\f\r "
BPE_SPLIT = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+"
    + r"| ?[^a-zA-Z0-9" + BPE_WS + r"]+|[" + BPE_WS + r"]+"
)


def bpe_tokenize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish pretokenization: (id, ord, piece) — the merge-free first
    stage of a GPT-2-style tokenizer (regex split), enough for corpus
    token accounting without a vocab. Pure JVM regexp_extract_all."""
    # F.regexp_extract_all with a Column pattern avoids SQL-literal
    # backslash mangling (F.expr would need doubled escapes)
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT), F.lit(0))
    return (
        df.select(id_col, F.posexplode(pieces).alias("pos", "piece"))
        .filter(~F.col("piece").rlike(r"^[" + BPE_WS + r"]+$"))
        .select(id_col, (F.col("pos") + 1).alias("ord"), "piece")
    )


def bpe_token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc BPE-ish token accounting: piece count, distinct pieces,
    characters per piece — the cost-estimation numbers an LLM-training
    pipeline tracks per document."""
    t = bpe_tokenize(df, text_col, id_col)
    # single-Exchange form, same rationale as token_stats (r6)
    return t.groupBy(id_col).agg(
        F.count("*").alias("n_pieces"),
        F.size(F.collect_set("piece")).cast("bigint").alias("n_uniq_pieces"),
        F.round(
            F.sum(F.length("piece")).cast("double") / F.count("*").cast("double"), 4
        ).alias("avg_piece_len"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals (public
    filtering heuristics) per document:

    - ``dup_token_frac``: 1 - distinct/total tokens
    - ``top_bigram_char_frac``: fraction of token characters covered by
      the MOST FREQUENT bigram (its count * chars / total chars, the
      Gopher heuristic); count ties broken by larger char count (the
      covered-fraction value is then identical for any remaining tie,
      so no further ordering is needed)
    - ``dup_trigram_char_frac``: fraction of token characters inside
      trigrams occurring >= 2 times (sum of count * chars / total)

    Genuinely single-pass: one lead() window builds the n-grams, ONE
    explode emits (kind, gram, chars) rows for unigrams/bigrams/
    trigrams together, one groupBy counts every gram, and one final
    groupBy(doc) folds all three signals with conditional aggregates —
    two shuffles after the window, no per-signal re-scan (a
    branch-per-signal formulation re-ran the scan 3x: Spark's column
    pruning differentiates the branch subplans, defeating
    ReusedExchange). Top-bigram selection is a struct-max on
    (cnt, chars): lexicographic struct ordering picks the highest
    count, then the largest char coverage — any bigram still tied
    yields the same cnt*chars value, so the output is deterministic."""
    from pyspark.sql.window import Window

    toks = tokenize(df, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy("ord")
    grams = toks.select(
        id_col,
        "tok",
        F.lead("tok", 1).over(w).alias("nxt"),
        F.lead("tok", 2).over(w).alias("nxt2"),
    )

    gram_structs = F.array(
        F.struct(
            F.lit("t").alias("kind"), F.col("tok").alias("gram"),
            F.length("tok").alias("chars"),
        ),
        F.when(
            F.col("nxt").isNotNull(),
            F.struct(
                F.lit("b").alias("kind"),
                F.concat_ws(" ", "tok", "nxt").alias("gram"),
                (F.length("tok") + F.length("nxt")).alias("chars"),
            ),
        ),
        F.when(
            F.col("nxt2").isNotNull(),
            F.struct(
                F.lit("g").alias("kind"),
                F.concat_ws(" ", "tok", "nxt", "nxt2").alias("gram"),
                (F.length("tok") + F.length("nxt") + F.length("nxt2")).alias("chars"),
            ),
        ),
    ).cast("array<struct<kind:string,gram:string,chars:int>>")

    rows = (
        grams.select(id_col, F.explode(gram_structs).alias("g"))
        .filter(F.col("g").isNotNull())
        .select(id_col, "g.kind", "g.gram", "g.chars")
    )
    counts = rows.groupBy(id_col, "kind", "gram", "chars").agg(F.count("*").alias("cnt"))

    uni = F.col("kind") == "t"
    weight = F.col("cnt") * F.col("chars")
    folded = counts.groupBy(id_col).agg(
        F.sum(F.when(uni, F.col("cnt"))).alias("n_tok"),
        F.sum(F.when(uni, 1)).alias("n_uniq"),
        F.sum(F.when(uni, weight)).alias("total_chars"),
        F.max(
            F.when(F.col("kind") == "b", F.struct(F.col("cnt"), F.col("chars")))
        ).alias("top_bg"),
        F.sum(F.when((F.col("kind") == "g") & (F.col("cnt") >= 2), weight)).alias(
            "dup_tg_chars"
        ),
    )
    return folded.select(
        id_col,
        F.round(1 - F.col("n_uniq") / F.col("n_tok"), 6).alias("dup_token_frac"),
        F.round(
            F.coalesce(F.col("top_bg.cnt") * F.col("top_bg.chars"), F.lit(0))
            / F.greatest("total_chars", F.lit(1)),
            6,
        ).alias("top_bigram_char_frac"),
        F.round(
            F.coalesce(F.col("dup_tg_chars"), F.lit(0)) / F.greatest("total_chars", F.lit(1)),
            6,
        ).alias("dup_trigram_char_frac"),
    )
