"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All pure pyspark.sql expressions over md5 (so an ANSI-SQL oracle can
reproduce every value bit-for-bit — md5 hex is identical across
engines). Scale notes per operator:

- exact_dedup: one shuffle on the 32-hex digest; map-side partial agg.
- ngram_jaccard_pairs: shingle explode -> self-equi-join on shingle ->
  pair count agg. At 100 TB the shingle join is bounded by dropping
  ultra-frequent shingles (stop-shingle cap) — the join key histogram
  is the skew control.
- minhash_lsh_pairs: per-doc signature = min(md5(perm || shingle)) per
  permutation (groupBy agg, map-side combinable), band keys = struct of
  adjacent signature slots, candidate pairs = self-join on band key
  only — the classic sublinear near-dup path.
- simhash: per-token md5 bits weighted-summed per bit position -> one
  64-row-free agg per doc (all in one groupBy via bit arithmetic).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .textstats import normalize_text, tokenize


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (digest, n_docs, keep_id=min id). Filter n_docs>1 for dup report."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def word_shingle_rows(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word n-gram shingle OCCURRENCE rows per doc: (id, shingle),
    with within-doc duplicates — fully narrow (zero shuffles).

    Narrow per-row expression (slice/transform over the split array) —
    zero joins. Windows keep split-position adjacency: a window
    containing an empty token (from consecutive delimiters) yields no
    shingle, matching the positional (ord) adjacency an inverted-index
    formulation uses. Consumers that need per-doc DISTINCT shingles
    either call :func:`word_shingles` or dedupe inside their own
    shuffle (guide §2.4: share the exchange instead of adding one).

    The text is split once per row into a column before the window
    lambda, which would otherwise re-split it for every window.
    """
    arr = F.col("_words")
    windows = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.when(
                F.forall(F.slice(arr, i, n), lambda t: t != ""),
                F.concat_ws(" ", F.slice(arr, i, n)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_words"))
        .select(F.col(id_col), F.explode(windows).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). One
    shuffle (the distinct, map-side combinable)."""
    return word_shingle_rows(df, n, text_col, id_col).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.0,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 256,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard similarity >= threshold:
    (id_a, id_b, jaccard). Exact (no sketching): inverted-index
    self-join on shingle.

    ``max_shingle_df`` is the stop-shingle cap — the skew control that
    makes the self-join survive 100 TB: a boilerplate shingle appearing
    in d documents contributes d^2/2 join rows, so shingles with
    doc-frequency > cap are dropped from BOTH the index and the per-doc
    set sizes (jaccard is then over the capped shingle sets). The cap
    is computed with a window count over ONE shingle-partitioned
    shuffle (r5; the earlier groupBy-count + broadcast anti-join
    traversed the shingle rows twice and measured ~45% slower on the
    full table) — and the self-join then joins on the SAME key, so the
    shuffle is reused.

    The cap is ON by default (256): the uncapped plan is the d^2/2
    posting-list explosion that kills the job on any corpus with
    boilerplate, which is exactly the corpus dedup exists for. Pass
    ``max_shingle_df=None`` to explicitly opt out (small corpora /
    oracle verification only).
    """
    if max_shingle_df is not None:
        from pyspark.sql import Window

        # fold the per-doc shingle dedupe INTO the cap's shingle
        # exchange (r6): the r5 word_shingles().distinct() spent a
        # whole extra Exchange on (id, shingle) before re-shuffling by
        # shingle for the df-cap window. Raw occurrence rows now
        # shuffle once by shingle; a lag() over (shingle ORDER BY id)
        # drops within-doc duplicates, and the count window over the
        # deduped rows (same clustering, no new exchange or sort —
        # rows are already sorted by (shingle, id)) gives the true
        # per-shingle doc frequency. Identical output, one Exchange
        # fewer.
        rows = word_shingle_rows(df, n, text_col, id_col)
        wd = Window.partitionBy("shingle").orderBy(id_col)
        deduped = (
            rows.withColumn("_prev", F.lag(id_col).over(wd))
            .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(id_col)))
            .drop("_prev")
        )
        w = Window.partitionBy("shingle")
        sh = (
            deduped.withColumn("df", F.count("*").over(w))
            .filter(F.col("df") <= max_shingle_df)
            .drop("df")
        )
    else:
        sh = word_shingles(df, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # hint the self-join to SMJ: both sides are the SAME subplan already
    # partitioned by shingle (the df-cap window), so the shuffle is
    # computed once and reused (ReusedExchange). Without the hint the
    # local planner broadcasts the y side, which recomputes the whole
    # shingle lineage (scan + explode + window) a second time — and a
    # third for the sizes legs (guide §2.4 shared-exchange rule). At
    # 100 TB the broadcast would never fire; SMJ is also the plan that
    # spills gracefully there.
    pairs = (
        sh.alias("x")
        .join(sh.alias("y").hint("shuffle_merge"), "shingle")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    out = (
        pairs.join(sizes.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    df: DataFrame, n_perm: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per doc: sig[p] = min(md5(p || '|' || shingle)).
    md5-as-permutation keeps the oracle SQL-expressible; one groupBy,
    all mins map-side combinable.

    ONE shuffle total (r6): min() is duplicate-invariant, so the
    per-doc shingle distinct — a whole extra Exchange of the shingle
    rows — is unnecessary; the groupBy's map-side partial mins reduce
    each task's rows to n_perm values per doc before anything
    shuffles (strictly fewer bytes than shuffling distinct shingle
    rows)."""
    sh = word_shingle_rows(df, 3, text_col, id_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("shingle")))).alias(f"mh{p}")
        for p in range(n_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    n_perm: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = 64,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band of the
    MinHash signature. Returns (id_a, id_b, n_bands shared).

    ``max_band_bucket`` is the band-bucket skew control (ON by
    default): a cluster of d near-identical documents — exactly what a
    dedup corpus contains — shares every band, so the naive band
    self-join emits d^2/2 candidate rows per band. Buckets larger than
    the cap switch to STAR pairing: every member pairs with the
    bucket's min-id representative only (O(d) rows), and the dup
    cluster is recovered downstream by connected components /
    transitive closure over the pair edges — the standard
    production-dedup formulation. The hot/cold split is computed with
    window functions over ONE (band, bkey) shuffle (r5; the earlier
    groupBy-count + broadcast anti/semi joins traversed the band rows
    three times and cost ~8% more end-to-end) — the cold self-join
    then reuses the same key, so no extra exchange is introduced.
    ``n_bands`` for a star pair counts the bands where the pair shared
    an oversized bucket. Pass ``max_band_bucket=None`` for exhaustive
    within-bucket pairs.
    """
    from pyspark.sql import Window
    sig = minhash_signatures(df, n_perm, text_col, id_col)
    n_bands = n_perm // band_size
    bands = sig.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "#", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bkey"),
    )

    def _all_pairs(b: DataFrame) -> DataFrame:
        # SMJ hint for the same reason as ngram_jaccard_pairs: both
        # sides sit on the (band, bkey) exchange the cap window already
        # created, so the hint turns a broadcast + full lineage
        # recompute into one reused shuffle + local sorts
        return (
            b.alias("x")
            .join(b.alias("y").hint("shuffle_merge"), ["band", "bkey"])
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(
                F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
            )
        )

    if max_band_bucket is None:
        edges = _all_pairs(bands)
    else:
        w = Window.partitionBy("band", "bkey")
        ann = bands.withColumn("bn", F.count("*").over(w)).withColumn(
            "rep", F.min(id_col).over(w)
        )
        cold = ann.filter(F.col("bn") <= max_band_bucket).drop("bn", "rep")
        star = ann.filter(
            (F.col("bn") > max_band_bucket) & (F.col(id_col) != F.col("rep"))
        ).select(F.col("rep").alias("id_a"), F.col(id_col).alias("id_b"))
        edges = _all_pairs(cold).unionByName(star)
    return edges.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over dup-pair edges -> (doc_id,
    cluster_id = min doc id in the component). The closure step the
    capped LSH paths rely on: star pairing emits O(d) edges per dense
    bucket and this recovers the full duplicate cluster.

    Distributed min-label propagation: every node starts labeled with
    itself; each iteration pulls the min label across neighbors (one
    equi-join + groupBy min per iteration) until a fixpoint. Rounds
    needed = graph diameter — for dedup graphs that is tiny (star
    edges give diameter <= 2 per cluster; chains of near-dups are
    short), so the loop exits after 2-4 cheap shuffles.
    localCheckpoint per iteration truncates the growing lineage (the
    classic iterative-algorithm footgun at scale).

    If a component's diameter exceeds ``max_iters`` the labels have
    NOT converged — returning them silently would split one duplicate
    cluster into several cluster_ids, so this raises RuntimeError
    instead (r4 ADVICE). Raise ``max_iters`` for pathological chain
    graphs; the default 20 covers any realistic dedup topology."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("new_label") != F.col("label")).limit(1).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"dup_clusters did not converge in max_iters={max_iters} label-propagation "
        "rounds (component diameter exceeds the iteration budget); raise max_iters"
    )


def simhash(df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash over distinct tokens: bit b of the hash is the
    sign of sum(+1/-1) of bit b of md5(token) across tokens.
    (id, simhash bigint).

    ONE shuffle (r6): per-doc distinct tokens come from a single
    groupBy(id).collect_set — the r5 distinct() + groupBy(id) pair
    shuffled the token rows twice (once on (id, tok), once on id).
    md5 is evaluated once per distinct token into an int array column;
    the 16 per-bit sign sums fold over that array JVM-side. Integer
    sums commute, so the set's nondeterministic order cannot change
    the output. Memory trade, stated honestly: the single aggregation
    buffer holds one document's distinct-token SET (O(document size)
    state for one key, which cannot spill mid-key), where the r5
    distinct+groupBy spread that state across (id, tok) keys at the
    cost of a second full shuffle. O(one document) single-key state is
    the same envelope this engine already accepts for span
    re-assembly (collect_list per doc, plans/extract.py §5); corpora
    whose single documents outgrow executor memory need doc-level
    chunking upstream of either formulation."""
    toks = tokenize(df, text_col, id_col).select(id_col, "tok")
    sets = toks.groupBy(id_col).agg(F.collect_set("tok").alias("toks"))
    hs = sets.select(
        id_col,
        F.transform(
            F.col("toks"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
        ).alias("hs"),
    )

    def bit_sum(b: int):
        return F.aggregate(
            F.col("hs"),
            F.lit(0),
            lambda acc, v: acc
            + F.when(F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

    sim = None
    for b in range(bits):
        term = F.when(bit_sum(b) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return hs.select(id_col, sim.cast("bigint").alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    n_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above threshold.

    Default path (the one that survives 100 TB): sign-LSH bucket the
    vectors (similarity.bucket_key_expr), then exact cosine only within
    each bucket — an equi-join on the bucket key, never all-pairs. At
    threshold ~0.98 a missed pair needs a sign flip in the first
    ``n_bits`` dimensions (a component near 0), so recall is high but
    not exact; pass ``exact=True`` for the O(n^2) cross-join fallback
    (small corpora / verification only).
    """
    from .similarity import bucket_key_expr, cosine_expr

    if exact:
        keyed = df.select(F.col(id_col), F.col(vec_col))
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    else:
        keyed = df.select(
            F.col(id_col),
            F.col(vec_col),
            bucket_key_expr(F.col(vec_col), n_bits).alias("bucket"),
        )
        cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
    a = keyed.alias("a")
    b = keyed.alias("b")
    sim = cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
