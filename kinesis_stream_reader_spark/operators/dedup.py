"""Deduplication operators over `documents` / `embeddings`: exact,
MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Extension surface (north-star mandate). Design stance for 100 TB:

- exact dedup is a hash groupBy (one shuffle on the fingerprint);
- candidate generation NEVER compares all pairs — n-gram Jaccard uses
  blocking keys, MinHash uses banded LSH buckets, SimHash uses blocked
  hamming joins. The quadratic step only runs within buckets;
- every stage is built-in column algebra (split / transform / xxhash64 /
  explode / groupBy-min / bit ops) — no Python UDFs anywhere, so the
  whole path stays in whole-stage codegen and Tungsten;
- verification (exact Jaccard on candidates) touches only the
  candidate pairs, which is the LSH contract: recall from bands,
  precision from verification.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rowmap import group_batches, map_rows
from .text import tokens

# MinHash configuration: 32 permutations in 16 bands of 2 rows.
# Detection probability at Jaccard j is 1-(1-j^2)^16: ~1.0 at j>=0.7,
# 0.34 at j=0.3 — tuned for the >=0.8 near-dup threshold used below.
MINHASH_PERMS = 32
MINHASH_BANDS = 16
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS

# SimHash uses a 60-bit signature (15 hex digits of md5 -> bigint, so
# the same hash is exactly expressible in DuckDB oracle SQL).
SIMHASH_BITS = 60


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column as strings
    (split -> transform(sequence) -> slice -> array_join).

    Reference/readable form — used in tests and tiny inputs. The hot
    path uses ``gram_postings`` below: higher-order functions evaluate
    interpreted (outside codegen), which dominates at volume. Guarded
    for docs shorter than n (F.sequence(1, 0) would count DOWN)."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def gram_postings(
    documents: DataFrame, n: int = 3, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra_cols, gram) — one row per DISTINCT hashed n-gram
    per document, built entirely inside whole-stage codegen:

    posexplode(tokens) -> xxhash64 per token -> lead() window to gather
    the next n-1 token hashes -> xxhash64 of the n-tuple -> distinct.
    No array columns ever materialize, every expression codegens, and
    the only shuffle is the per-doc window sort (which the downstream
    groupBy reuses). Token-hash composition maps distinct string grams
    to distinct longs 1:1 (whitespace tokens make ' '-joining bijective;
    collisions ~1e-16). Measured ~4x over the transform/slice array
    path at sf0.1."""
    toks = documents.select(
        "doc_id",
        *extra_cols,
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    ).select("doc_id", *extra_cols, "pos", F.xxhash64("tok").alias("h0"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("h0", i).over(w).alias(f"h{i}") for i in range(1, n)]
    with_leads = toks.select("doc_id", *extra_cols, "pos", "h0", *lead_cols)
    return (
        with_leads.filter(F.col(f"h{n-1}").isNotNull())
        .select(
            "doc_id",
            *extra_cols,
            F.xxhash64(*[F.col(f"h{i}") for i in range(n)]).alias("gram"),
        )
        .distinct()
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup via normalized-text fingerprint: every doc mapped to
    the canonical (min) doc_id of its duplicate group. One shuffle on
    the 128-bit hash — never on the text itself."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hashed = documents.select("doc_id", F.md5(normalized).alias("fingerprint"))
    canonical = hashed.groupBy("fingerprint").agg(F.min("doc_id").alias("canonical_id"))
    return (
        hashed.join(canonical, "fingerprint")
        .select("doc_id", "canonical_id", (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    blocking: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within blocking buckets.

    Inverted-index shape (the 100 TB form): explode shingles, equi-join
    postings on (gram, blocking) to count shared grams per pair, then
    jaccard = shared / (|A| + |B| - shared). No array intersections, no
    quadratic block scan — pairs sharing zero grams never materialize
    (identical result set for any threshold > 0). All join/group keys
    are longs + the blocking columns. Jaccard on small-int set sizes is
    exact in floating point, so the oracle matches bit-for-bit."""
    # referenced three times (size census + both sides of the shared-
    # gram self-join): checkpoint so the corpus explode runs once
    postings = gram_postings(documents, n, blocking).localCheckpoint(eager=False)
    sizes = postings.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = postings.alias("a")
    b = postings.alias("b")
    cond = (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    for key in blocking:
        cond = cond & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    shared = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(F.broadcast(sizes.withColumnRenamed("doc_id", "a_id")), "a_id")
        .withColumnRenamed("n_grams", "n_a")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "b_id")), "b_id")
        .withColumnRenamed("n_grams", "n_b")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_signature(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> 32 minhash values, via gram postings + groupBy-min.

    One shuffle keyed on doc_id; partial (map-side) min means the
    shuffle carries 32 longs per doc per partition, independent of
    shingle count."""
    shingles = gram_postings(documents, n)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("gram"))).alias(f"h{i}")
        for i in range(MINHASH_PERMS)
    ]
    return shingles.groupBy("doc_id").agg(*mins)


def minhash_bucket_keys(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> exploded (band, bucket) keys of the 16x2 banded LSH
    scheme over the 32-perm xxhash64 signature — the candidate-join
    key relation of minhash_lsh_pairs, factored out so the STREAMING
    near-dup leg computes exactly the same keys per micro-batch (a
    document's signature is wholly contained in its row, so this
    whole construction runs inside foreachBatch unchanged)."""
    sig = _minhash_signature(documents, n)
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{band * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)]
                ).alias("bucket"),
            )
            for band in range(MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def minhash_verify_pairs(
    documents: DataFrame,
    candidates: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard verification of an (a_id, b_id) candidate
    relation: only colliding candidates pay the gram-set comparison —
    shared by the batch LSH pairs and the streaming drain's verify
    post-pass."""
    # The gram-list census only matters for docs that actually appear in
    # a candidate pair — a small fraction of the corpus (the dup mass).
    # Checkpoint the candidate relation (it feeds the id census + both
    # verify joins) and semi-join the postings down to it BEFORE the
    # collect_list shuffle: the verify stage then shuffles candidates'
    # grams, not the whole corpus's. Identical pairs out (non-candidate
    # gram lists were never joined to anything).
    candidates = candidates.localCheckpoint(eager=False)
    cand_ids = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    grams = (
        gram_postings(documents, n)
        .join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("gram").alias("grams"))
    )
    return (
        candidates.join(grams.withColumnRenamed("doc_id", "a_id").alias("ga"), "a_id")
        .join(
            grams.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("grams", "grams_b")
            .alias("gb"),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.round(_jaccard(F.col("grams"), F.col("grams_b")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_pairs_per_doc: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    No blocking key needed and no all-pairs comparison: candidates come
    from banded bucket collisions (equi-join on (band, hash)), then only
    candidates pay the exact-Jaccard verification. At threshold 0.8 the
    16x2 band scheme has ~1-1e-7 recall, so the exact blocked oracle is
    a valid twin.

    The pair list is the DIAGNOSTIC output: on a crawl where dup groups
    reach 1e5 members it grows quadratically per group, so the default
    dedup contract is `minhash_dedup` (doc -> canonical, linear), and
    pair emission here can be bounded with `max_pairs_per_doc` — a
    deterministic per-doc cap (lowest b_id first) that turns the output
    into at most cap*N rows."""
    # self-joined: without a checkpoint the full signature pipeline
    # (gram explode + 32-way min aggregate + band hashing) plans and
    # executes once PER SIDE
    buckets = minhash_bucket_keys(documents, n).localCheckpoint(eager=False)
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    verified = minhash_verify_pairs(documents, candidates, n, threshold)
    if max_pairs_per_doc is not None:
        w = Window.partitionBy("a_id").orderBy("b_id")
        verified = (
            verified.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_pairs_per_doc)
            .drop("_rn")
        )
    return verified


def minhash_dedup(
    documents: DataFrame, n: int = 3, threshold: float = 0.8, max_iter: int = 10
) -> DataFrame:
    """The DEFAULT near-dup contract: doc_id -> canonical_id (component
    minimum over the verified >= threshold graph) + is_dup flag — one
    row per document, linear in corpus size no matter how large the
    duplicate groups get.

    On a 100 TB crawl dup groups reach 1e5 members; the pair relation
    of such a group is ~5e9 rows while this mapping stays at 1e5. The
    pair list remains available from minhash_lsh_pairs (bounded with
    max_pairs_per_doc) for diagnostics; components ride the same
    verified edges, so nothing is lost semantically."""
    pairs = minhash_lsh_pairs(documents, n, threshold)
    labels = dedup_components(documents, pairs, max_iter)
    return labels.select(
        "doc_id",
        F.col("component_id").alias("canonical_id"),
        (F.col("doc_id") != F.col("component_id")).alias("is_dup"),
    )


def _token_hash60(col: Column) -> Column:
    """Deterministic 60-bit token hash shared with the DuckDB oracle:
    first 15 hex digits of md5, as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document: per-bit +-1 votes over distinct
    token hashes, assembled into one bigint. Explode + one groupBy with
    60 partial-aggregated sums — shuffle is one row of 60 ints per doc."""
    toks = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).select("doc_id", _token_hash60(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)
    ]
    signature = bits[0]
    for bit in bits[1:]:
        signature = signature + bit
    return agg.select("doc_id", signature.alias("simhash"))


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 8,
    blocking: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """SimHash near-dup pairs: hamming(sig_a, sig_b) <= max_hamming
    within blocking buckets (at scale, replace blocking with the
    standard 4-segment pigeonhole index on signature chunks)."""
    # self-joined: checkpoint so the corpus explode + 60-vote aggregate
    # runs once per query, not once per side
    sig = simhash_signatures(documents).join(
        documents.select("doc_id", *blocking), "doc_id"
    ).localCheckpoint(eager=False)
    a = sig.alias("a")
    b = sig.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for key in blocking:
        cond = cond & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    hamming = F.bit_count(F.expr("a.simhash ^ b.simhash"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_components(
    documents: DataFrame, pairs: DataFrame, max_iter: int = 10,
    jump: bool = False,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document
    mapped to its component's canonical (minimum) doc_id.

    This is the scalable alternative to emitting all O(g^2) pairs of a
    g-sized duplicate group (SCALING.md): iterative min-label
    propagation as a driver-coordinated loop of DataFrame ops — the
    standard Spark shape for iterative graph algorithms. Duplicate
    groups are near-cliques, so convergence takes O(diameter) ~ 2
    rounds; localCheckpoint truncates lineage each round so plans stay
    flat. Each round is one join + one groupBy-min (both on long keys).

    jump=True (round 13, guide §1.2: fewer passes): adds a pointer-
    jumping step per round — after the neighbor-min, each label is
    lowered to its LABEL's label (labels.join(labels) on
    component_id == doc_id). Label values are always member ids of the
    same component, so the fixpoint (component minimum everywhere) is
    unchanged; convergence drops from O(diameter) to O(log diameter)
    rounds. Worth it only for long-chain graphs (mutual-kNN, budget 64
    — measured 10 -> 5 rounds at sf0.1); near-clique dup groups
    converge in ~2 rounds either way and skip the extra join."""
    # pairs usually carries an expensive lineage (the full LSH pipeline);
    # checkpoint the edge list once so each propagation round joins a
    # materialized table instead of re-running candidate generation.
    # LAZY (eager=False) everywhere in this loop: each checkpoint's first
    # consumer is the round's full-partition convergence aggregate, so
    # materialization rides THAT job instead of paying a separate
    # scheduled job per checkpoint — measured ~1.1 s/call at sf0.1
    # (winnowing 5.0 -> 3.9 s warm) with bit-identical output.
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .unionByName(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .localCheckpoint(eager=False)
    )
    # Only edge-incident vertices can ever change label, so propagation
    # runs over them alone — the label table per round is bounded by the
    # dup mass (orders of magnitude below corpus size at 100 TB), not by
    # |documents|. Everyone else coalesces to self-component at the end.
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component_id"))
        .localCheckpoint(eager=False)
    )
    # min-propagation is monotone non-increasing per row, so the label
    # SUM strictly decreases iff any label changed — convergence is one
    # scalar aggregate per round, not a self-join + count
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("component_id").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.u, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("component_id"), F.coalesce(F.col("nmin"), F.col("component_id"))
            ).alias("component_id"),
        )
        if jump:
            # checkpoint before the self-join so the neighbor-min
            # subtree is planned and executed once, not twice
            stepped = stepped.localCheckpoint(eager=False)
            parent = stepped.select(
                F.col("doc_id").alias("p_id"),
                F.col("component_id").alias("p_comp"),
            )
            stepped = stepped.join(
                parent, stepped.component_id == parent.p_id, "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("p_comp"), F.col("component_id")),
                ).alias("component_id"),
            )
        labels = stepped.localCheckpoint(eager=False)
        new_sum = labels.agg(F.sum("component_id")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # the label sum was still falling when the round budget ran out:
        # labels on long chains (diameter > max_iter) would be wrong —
        # fail loudly rather than return silently-unconverged components
        raise RuntimeError(
            f"dedup_components: min-propagation not converged after "
            f"{max_iter} rounds (graph diameter exceeds the budget); "
            f"raise max_iter"
        )
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
        )
    )


def span_postings(documents: DataFrame, span: int = 8) -> DataFrame:
    """(doc_id, pos, gram) — one row per POSITION (not distinct): the
    hashed `span`-token window starting at each position. Same
    codegen-only lead-window shape as gram_postings, with positions
    retained because downstream consumers need interval arithmetic."""
    toks = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", "pos", F.xxhash64("tok").alias("h0"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("h0", i).over(w).alias(f"h{i}") for i in range(1, span)]
    with_leads = toks.select("doc_id", "pos", "h0", *lead_cols)
    return with_leads.filter(F.col(f"h{span-1}").isNotNull()).select(
        "doc_id",
        "pos",
        F.xxhash64(*[F.col(f"h{i}") for i in range(span)]).alias("gram"),
    )


def substring_dedup_report(documents: DataFrame, span: int = 8) -> DataFrame:
    """Exact SUBSTRING-level duplication (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): for
    each document, how many of its tokens are covered by some
    `span`-token window that occurs MORE THAN ONCE in the corpus
    (including repeats inside one document) — the operator behind
    span-level dedup policies, where only the duplicated RANGES are
    cut, not whole documents.

    Scale shape — suffix arrays don't distribute, posting joins do:
    (1) per-position span hashes (span_postings, codegen-only);
    (2) duplicated spans = one groupBy(gram) HAVING count>1, shuffle
        carries longs;
    (3) coverage = classic interval-union via one per-doc window pass
        (running max of interval ends -> island ids -> island extents),
        avoiding any per-token explode of the covered ranges.
    Dup-span occurrence lists are never materialized — only counts and
    covered intervals — so a billion-fold repeated boilerplate span
    costs one aggregate row, not a pair explosion."""
    posts = span_postings(documents, span)
    dup_grams = posts.groupBy("gram").agg(F.count("*").alias("n_occ")).filter(
        F.col("n_occ") >= 2
    )
    intervals = posts.join(dup_grams, "gram").select(
        "doc_id", F.col("pos").alias("s"), (F.col("pos") + span).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        intervals.withColumn(
            "new_island",
            (F.col("s") > F.coalesce(prev_max_end, F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s")).alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").alias("dup_tokens"))
    )
    lengths = documents.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        lengths.join(islands, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            # half-up floor, not ROUND: k/n fractions hit exact 4dp
            # midpoints (1/32 = .03125) where Spark and DuckDB round
            # in opposite directions
            (
                F.floor(
                    F.coalesce(F.col("dup_tokens"), F.lit(0))
                    / F.col("n_tokens")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns, built-in only:
    ordered zip_with/aggregate fold (deterministic summation order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (norm_a * norm_b)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.99, blocking: str = "label"
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (here the
    cluster label — at scale, an LSH/IVF bucket id from similarity.py).

    Dense vector math is the one workload where Arrow + BLAS beats
    column algebra: each block becomes one numpy normalized matmul
    (V @ V.T) in one grouped Arrow pass (rowmap.group_batches) —
    measured ~5x over the zip_with/aggregate fold at sf0.1, and the gap
    grows with dimension. One shuffle on the blocking key; emitted
    pairs are tiny. The column-expression ``cosine`` stays the per-pair
    scoring primitive for joins that don't batch (ANN probes)."""

    def block_pairs(block: dict) -> dict:
        ids, sims = _rounded_cosines(block)
        iu, ju = np.triu_indices(len(ids), k=1)
        sim = sims[iu, ju]
        keep = sim >= threshold
        return {"a_id": ids[iu][keep], "b_id": ids[ju][keep], "cos_sim": sim[keep]}

    return group_batches(
        embeddings.select("vec_id", F.col(blocking).alias("block"), "embedding"),
        ["block"],
        block_pairs,
        "a_id BIGINT, b_id BIGINT, cos_sim DOUBLE",
    )


def _rounded_cosines(block: dict) -> tuple[np.ndarray, np.ndarray]:
    """One block's vec_ids in ascending order and their pairwise cosine
    matrix in that order, rounded half-up to 3 decimals (np.round is
    banker's; Spark/DuckDB round half-up) — the pair view and the
    SemDeDup keep-rule share this one arithmetic."""
    order = np.argsort(block["vec_id"])
    ids = block["vec_id"][order]
    mat = block["embedding"][order].astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (mat / norms) @ (mat / norms).T
    return ids, np.floor(sims * 1000 + 0.5) / 1000


def fuzzy_levenshtein_pairs(
    documents: DataFrame, prefix_len: int = 64, max_dist: int = 10
) -> DataFrame:
    """Edit-distance near-dup pairs within (lang, source) blocks:
    the fuzzy complement of the token-set (Jaccard) family — catches
    char-level mutations (typos, OCR noise) that shingle overlap
    misses.

    Scale shape: levenshtein is O(len^2) per pair and all-pairs is
    O(n^2), so BOTH are bounded — comparison on a fixed-length prefix,
    candidate pairs by equality blocking (an equi join Catalyst plans
    as one shuffle on the block key; block sizes bound the quadratic
    term). Two pair-level prunes keep the DP off the hot path: a
    length-difference guard (|len a − len b| > max_dist is a lower
    bound on edit distance, evaluated before the join emits the pair)
    and the THRESHOLDED levenshtein form, which bands the DP to a
    2·max_dist+1 diagonal strip and exits early (-1 past threshold) —
    O(len·max_dist) per surviving pair instead of O(len²). At 100 TB
    the block key would be a cheap cluster id (simhash band / LSH
    bucket) instead of metadata equality — same plan shape."""
    p = documents.select(
        "doc_id", "lang", "source", F.substring("text", 1, prefix_len).alias("prefix")
    )
    a, b = p.alias("a"), p.alias("b")
    len_guard = (
        F.abs(F.length(F.col("a.prefix")) - F.length(F.col("b.prefix"))) <= max_dist
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & len_guard,
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), threshold=max_dist),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            "edit_dist",
        )
    )


def decontaminate(
    documents: DataFrame, benchmark_source: str = "src0", n: int = 5
) -> DataFrame:
    """Benchmark decontamination: drop any training document that
    shares at least one word n-gram with the held-out benchmark slice
    (here: `source == benchmark_source`) — the standard eval-leakage
    gate an LLM data pipeline runs before training. Returns per-source
    (n_docs, n_kept) so the result is small and auditable.

    Plan shape: benchmark n-grams are a DISTINCT hashed-long set,
    orders of magnitude smaller than the corpus, broadcast to every
    executor — the 100 TB training side is then a scan + semi-join
    probe with NO shuffle of training grams (the only exchanges are
    the tiny per-doc distinct and final per-source agg). Gram hashing
    reuses gram_postings (xxhash64 composition, collision ~1e-16)."""
    bench_grams = (
        gram_postings(documents.filter(F.col("source") == benchmark_source), n)
        .select("gram")
        .distinct()
    )
    train = documents.filter(F.col("source") != benchmark_source)
    contaminated = (
        gram_postings(train, n)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        train.join(contaminated, "doc_id", "left_outer")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("contaminated").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


def split_group_aware(
    documents: DataFrame, pairs: DataFrame, test_frac: float = 0.2
) -> DataFrame:
    """Dedup-aware train/test split: gate on the near-dup COMPONENT id,
    not the doc id, so every member of a duplicate group lands in the
    same split — the standard guard against eval contamination by
    near-copies of training documents (plain doc-hash splits leak:
    a doc and its 95%-identical twin can straddle the boundary).

    Composition: dedup_components supplies doc -> canonical; the split
    is then the same deterministic md5 gate as split_train_test,
    applied to the canonical id. One extra broadcast-sized join over
    the plain split; the gate stays a pure function of content
    groups, reproducible under re-runs and corpus growth."""
    comp = dedup_components(documents, pairs)
    bucket = F.conv(
        F.substring(F.md5(F.col("component_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    split = F.when(bucket < int(test_frac * 65536), "test").otherwise("train")
    return (
        documents.join(comp, "doc_id")
        .select("doc_id", "lang", "source", "component_id", split.alias("split"))
        .orderBy("doc_id")
    )


def boilerplate_ngram_flags(
    documents: DataFrame, df_frac: float = 0.02, doc_frac: float = 0.5
) -> DataFrame:
    """Template/boilerplate detection by cross-document n-gram document
    frequency: a 3-gram is 'boilerplate' when it appears in >= df_frac
    of all documents; a document is flagged when >= doc_frac of its
    grams are boilerplate — the in-corpus twin of corpus_decontaminate
    (there the reference set is an external benchmark; here it is the
    corpus's own repeated phrasing: headers, footers, templates).

    Plan shape: one (doc, gram) explode feeds BOTH aggregations
    (per-gram df, per-doc totals); the boilerplate gram set joins back
    broadcast-sized. Thresholds are corpus-relative (a window-free
    broadcast of the 1-row count), so the operator is scale-free."""
    # hashed gram keys (gram_postings): the df join-back shuffles longs,
    # not 3-gram strings — ~2x on the 50x probe, identical counts
    # (collision odds ~1e-16)
    grams = gram_postings(documents, 3)
    df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    flagged = (
        df.join(F.broadcast(n_docs))
        .select("gram", (F.col("df") >= df_frac * F.col("n_docs")).alias("is_boiler"))
    )
    per_doc = (
        grams.join(flagged, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
        )
    )
    frac = F.col("n_boiler") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        F.round(frac, 4).alias("boiler_frac"),
        (F.col("n_boiler") >= doc_frac * F.col("n_grams")).alias("is_boilerplate"),
    ).orderBy("doc_id")


def dedup_keep_best(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Canonical selection by QUALITY, not by id: within each near-dup
    component, keep the longest document (ties to the smallest id) —
    the policy real curation uses (the min-id member of a dup group is
    often the truncated/mangled variant; you want the best exemplar).

    Composition: dedup_components labels the graph; the keeper is one
    argmax aggregate over (n_chars, -doc_id) per component joined
    back broadcast — no window sort, one extra tiny join over the
    plain components output."""
    comp = dedup_components(documents, pairs)
    labeled = documents.select("doc_id", "n_chars").join(comp, "doc_id")
    best = (
        labeled.groupBy("component_id")
        .agg(F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))).alias("s"))
        .select("component_id", (-F.col("s.nid")).alias("kept_doc_id"))
    )
    return (
        labeled.join(F.broadcast(best), "component_id")
        .select(
            "doc_id",
            "component_id",
            "kept_doc_id",
            (F.col("doc_id") == F.col("kept_doc_id")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


def semdedup(
    embeddings: DataFrame, n_seeds: int = 8, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering
    embeddings, then dropping within-cluster near-duplicates — the
    embedding-space analogue of MinHash dedup, catching paraphrases
    that share no n-grams. Deterministic seed choice (the n_seeds
    lowest vec_ids) stands in for k-means centroids so the operator is
    oracle-checkable; swap in similarity.kmeans_step output for a
    trained quantizer.

    Plan shape: (1) assignment = broadcast the tiny seed table, score
    every vector against every seed in one codegen pass, argmax via a
    max-aggregate + equality join back (no window over the full
    corpus); (2) pairing runs ONLY within clusters via the per-block
    matmul kernel (embedding_near_dup_pairs) — one shuffle keyed on
    cluster; (3) keep-rule (drop if any lower-id neighbor >= threshold)
    is a left-anti join against the pair list. Cluster count scales
    with corpus size at 100 TB, keeping block sizes bounded, so the
    quadratic pair step never sees the whole corpus."""
    vecs = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    seeds = vecs.filter(F.col("vec_id") < n_seeds).select(
        F.col("vec_id").alias("seed_id"), F.col("v").alias("s")
    )
    # seed sims are rounded half-up to 3 decimals (the pair-step
    # convention) BEFORE the argmax equality join: Spark's fold and
    # DuckDB's list_cosine_similarity can disagree in the last ulp on
    # near-tied seeds, which would flip the cluster assignment and
    # cascade into different pair sets; rounding makes the argmax
    # engine-stable, and ties resolve by MIN(seed_id) on both sides
    scored = vecs.join(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        (F.floor(cosine(F.col("v"), F.col("s")) * 1000 + F.lit(0.5)) / 1000).alias(
            "sim"
        ),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.max("sim").alias("best_sim"))
        .withColumnRenamed("vec_id", "_bv")
    )
    assign = (
        scored.join(
            best,
            (F.col("vec_id") == F.col("_bv")) & (F.col("sim") == F.col("best_sim")),
        )
        .groupBy("vec_id")
        .agg(F.min("seed_id").alias("cluster"))
    )
    return _semdedup_kept(embeddings, assign, threshold)


def _semdedup_kept(
    embeddings: DataFrame, assign: DataFrame, threshold: float
) -> DataFrame:
    """The within-cluster dedup shared by semdedup (seed clusters) and
    semdedup_trained (Lloyd-trained lists): given (vec_id, cluster),
    emit (vec_id, cluster, kept).

    Dropped-only kernel: the keep-rule needs "has ANY lower-id
    neighbor >= threshold" per vector, so the per-cluster matmul emits
    one row per dropped vector — linear output even when a cluster is
    one giant dup group (the full pair list of a 1e5-member group is
    ~5e9 rows; this is 1e5). Same math, same half-up rounding as
    embedding_near_dup_pairs, which remains the diagnostic pair view."""
    clustered = embeddings.select("vec_id", "embedding").join(assign, "vec_id")

    def block_dropped(block: dict) -> dict:
        ids, sims = _rounded_cosines(block)
        # strictly-lower-triangular mask: col j dropped if any i<j row
        # clears the threshold
        dropped_mask = np.tril(sims >= threshold, k=-1).any(axis=1)
        return {"vec_id": ids[dropped_mask]}

    dropped = group_batches(
        clustered.select("vec_id", F.col("cluster").alias("block"), "embedding"),
        ["block"],
        block_dropped,
        "vec_id BIGINT",
    )
    return (
        assign.join(dropped.withColumn("_d", F.lit(True)), "vec_id", "left_outer")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("_d"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


def semdedup_trained(
    embeddings: DataFrame,
    n_lists: int = 16,
    max_iter: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup with the REAL trained quantizer — the composition the
    paper actually runs (Abbas et al. 2023 cluster with k-means before
    the within-cluster cosine sweep; the original semdedup query's
    deterministic seed clusters were the oracle-friendly stand-in, with
    this exact swap documented as the seam). Clusters come from
    similarity.trained_lists (Lloyd to convergence, exact-integer
    assignment — so cluster membership is bit-stable across engines,
    strictly MORE robust than the seed query's rounded-cosine argmax);
    the within-cluster dropped-only kernel is shared via
    _semdedup_kept, one arithmetic for both queries.

    Plan shape / 100 TB: the training loop's map-side GEMM + census
    partials (sample-sized at real scale), one broadcast-argmin
    assignment pass, then ONE cluster-keyed grouped Arrow pass
    (rowmap.group_batches) whose output is dropped-rows-only. n_lists
    scales with the corpus, bounding cluster sizes, so the quadratic
    pair step never sees the whole corpus — and unlike the seed variant
    the cluster count here is a tuning knob, not a fixture constant."""
    from .similarity import trained_lists

    assign = trained_lists(embeddings, n_lists=n_lists, max_iter=max_iter).select(
        "vec_id", F.col("list_id").alias("cluster")
    )
    return _semdedup_kept(embeddings, assign, threshold)


def semdedup_persisted(
    embeddings: DataFrame, index_dir: str, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup composed onto the PERSISTED serving index (round 13):
    semdedup_trained retrains k-means inside the query, but a corpus
    that already serves ANN from a persisted IVF-PQ index has paid for
    its coarse assignment — at 100 TB the embedding dedup should
    reuse it, not train a second quantizer. Cluster membership is the
    index's LIVE code rows (manifest-aware generation resolution,
    tombstones anti-joined — the serving paths' single source of
    liveness), read with the codes column pruned so the scan carries
    two longs per vector; the within-cluster dropped-only kernel is
    the shared _semdedup_kept. Row-identical to semdedup_trained when
    the index was trained with the same constants on the same corpus
    (asserted in pytest; shared oracle)."""
    from .similarity import _codes_sans_tombstones

    spark = embeddings.sparkSession
    assign = _codes_sans_tombstones(spark, index_dir).select(
        "vec_id", F.col("list_id").alias("cluster")
    )
    return _semdedup_kept(embeddings, assign, threshold)


def ngram_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    blocking: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs: |A ∩ B| / |A| >= threshold —
    the asymmetric complement of Jaccard that catches near-SUPERSET
    duplication (a short doc embedded in a longer one, quote farms,
    wrapper boilerplate), which symmetric Jaccard misses whenever the
    size ratio is large.

    Same inverted-index shape as ngram_jaccard_pairs (shared-gram
    counts via postings equi-join; pairs sharing no grams never
    materialize); the only change is the asymmetric normalizer and
    emitting directed (contained, container) pairs both ways."""
    # referenced three times (size census + both sides of the shared-
    # gram self-join): checkpoint so the corpus explode runs once
    postings = gram_postings(documents, n, blocking).localCheckpoint(eager=False)
    sizes = postings.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = postings.alias("a")
    b = postings.alias("b")
    cond = (F.col("a.gram") == F.col("b.gram")) & (
        F.col("a.doc_id") != F.col("b.doc_id")
    )
    for key in blocking:
        cond = cond & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    shared = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(F.broadcast(sizes.withColumnRenamed("doc_id", "a_id")), "a_id")
        .select(
            "a_id",
            "b_id",
            F.round(F.col("shared") / F.col("n_grams"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_dedup(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    blocking: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """The DEFAULT containment contract: one row per CONTAINED doc with
    its best container (max containment, ties -> lowest container id) —
    linear output, vs the directed pair list which grows quadratically
    when boilerplate wraps thousands of docs (ngram_containment_pairs
    stays available as the diagnostic view).

    One extra groupBy-max on the contained doc id on top of the
    inverted-index pair shape; the max-struct aggregation is a partial
    (map-side) combine, so the shuffle carries one row per contained
    doc."""
    pairs = ngram_containment_pairs(documents, n, threshold, blocking)
    # argmax via max-struct: (containment, -b_id) orders ties toward the
    # lowest container id deterministically
    best = (
        pairs.groupBy(F.col("a_id").alias("doc_id"))
        .agg(
            F.max(
                F.struct(
                    F.col("containment"), (-F.col("b_id")).alias("nb")
                )
            ).alias("s")
        )
        .select(
            "doc_id",
            (-F.col("s.nb")).cast("long").alias("container_id"),
            F.col("s.containment").alias("containment"),
        )
    )
    return best.orderBy("doc_id")


def minhash_estimate_report(
    documents: DataFrame, n: int = 3, perms: int = 32, pair_threshold: float = 0.3
) -> DataFrame:
    """Sketch-accuracy measurement for MinHash — the dedup twin of
    ann_recall_report's index-health loop: on the exact n-gram-Jaccard
    pair set (threshold low enough to include mid-similarity pairs),
    compare the minhash ESTIMATE (matching signature components /
    perms) against the exact Jaccard and report the error
    distribution. This is the loop that tells an operator whether 32
    permutations are enough before trusting LSH at 100 TB.

    The permutations here are md5-derived (NOT xxhash64, which DuckDB
    cannot mirror) so the oracle rebuilds identical signatures; the
    production signature path (_minhash_signature) keeps xxhash64 for
    speed — this report measures the SAME estimator family with a
    mirrorable hash. Errors quantize to micro-units through one fixed
    IEEE expression, aggregates are exact integers.

    Plan shape: signatures are one groupBy-min shuffle (perms longs
    per doc); the pair relation comes from the existing inverted-index
    join; the signature compare is a zip_with fold over two broadcast-
    joined 32-long arrays. String grams (the oracle's _GRAMS form)
    feed the md5 permutations — the fast xxhash64 posting longs would
    not be reproducible in SQL."""
    toks = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram_str = (
        toks.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("gram"))
        .distinct()
    )
    mins = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"mh{i}:"), F.col("gram"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"m{i}")
        for i in range(perms)
    ]
    sig = gram_str.groupBy("doc_id").agg(*mins)
    sig_arr = sig.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(perms)]).alias("sig")
    )
    pairs = ngram_jaccard_pairs(documents, n=n, threshold=pair_threshold).select(
        "a_id", "b_id", "jaccard"
    )
    joined = (
        pairs.join(
            sig_arr.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
                "sig", "sig_a"
            ),
            "a_id",
        )
        .join(
            sig_arr.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
                "sig", "sig_b"
            ),
            "b_id",
        )
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(float(perms))
    err_u = F.floor(F.abs(est - F.col("jaccard")) * 1e6 + F.lit(0.5)).cast("long")
    per_pair = joined.select(
        "a_id", "b_id", "jaccard", est.alias("est"), err_u.alias("err_u")
    )
    return per_pair.agg(
        F.count("*").alias("n_pairs"),
        F.expr("SUM(err_u) DIV COUNT(*)").alias("mean_err_u"),
        F.max("err_u").alias("max_err_u"),
        F.count(F.when(F.col("est") > F.col("jaccard"), 1)).alias("n_over"),
        F.count(F.when(F.col("est") < F.col("jaccard"), 1)).alias("n_under"),
    )


def substring_scrub(documents: DataFrame, span: int = 8) -> DataFrame:
    """The REMOVAL half of span-level dedup (Lee et al. 2022 policy:
    keep the corpus-FIRST occurrence of every duplicated span, cut the
    rest): substring_dedup_report says how much is duplicated; this
    emits the scrubbed corpus — per doc, the cleaned token stream
    (single-space rejoined) as an md5 plus kept/removed counts, the
    shape a rewrite stage materializes.

    First-occurrence ranking is deterministic: occurrences of a gram
    order by (doc_id, pos); rank 1 survives, later ranks become cut
    intervals, merged per doc by the same running-max interval union as
    the report. The token-vs-interval membership test is an exists()
    over the doc's own merged-interval array (bounded by spans-per-doc)
    after ONE doc_id-keyed join — no token x interval range join, no
    driver materialization; the scrubbed text never leaves executors
    (only its md5 does)."""
    posts = span_postings(documents, span)
    wg = Window.partitionBy("gram")
    wr = Window.partitionBy("gram").orderBy("doc_id", "pos")
    occ = posts.select(
        "doc_id",
        "pos",
        F.count("*").over(wg).alias("n_occ"),
        F.row_number().over(wr).alias("rk"),
    )
    intervals = occ.filter((F.col("n_occ") >= 2) & (F.col("rk") >= 2)).select(
        "doc_id", F.col("pos").alias("s"), (F.col("pos") + span).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        intervals.withColumn(
            "new_island",
            (F.col("s") > F.coalesce(prev_max_end, F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("new_island").over(w))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("cuts"))
    )
    toks = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    with_cuts = toks.join(merged, "doc_id", "left").withColumn(
        "cuts", F.coalesce(F.col("cuts"), F.array().cast("array<struct<s:int,e:int>>"))
    )
    kept = with_cuts.filter(
        ~F.exists(
            F.col("cuts"),
            lambda c: (F.col("pos") >= c.getField("s"))
            & (F.col("pos") < c.getField("e")),
        )
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.getField("tok"),
                ),
            )
        ).alias("clean_md5"),
    )
    lengths = documents.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        lengths.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0))).alias(
                "removed_tokens"
            ),
            F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


MD5_MINHASH_PERMS = 16
MD5_MINHASH_BANDS = 8  # x 2 rows per band
# Mersenne prime 2^61-1: the universal-hash modulus; products of a
# 31-bit constant and a 30-bit half stay under 2^62, exact in int64
UHASH_M = (1 << 61) - 1


def _uhash_const(tag: str) -> int:
    """Deterministic 31-bit odd constant (md5-derived, the lsh_planes
    convention) — identical in the DuckDB oracle."""
    import hashlib

    return (int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) & 0x7FFFFFFF) | 1


def minhash_band_keys(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> exploded (band, bucket) LSH keys, computed PER ROW —
    no aggregation, so the whole construction drops straight into a
    STREAMING plan (the xxhash64 signature path in _minhash_signature
    needs a groupBy; this one doesn't).

    ONE md5 per shingle (60-bit base hash), then the 16 permutations
    are integer universal hashes of its 30-bit halves:
    h_i = min over grams of (a_i*hi + b_i*lo + c_i) mod (2^61-1);
    bucket_b = md5 of (h_2b, h_2b+1) — 8 md5 per doc. 8 bands x 2 rows
    targets the same ~0.8 Jaccard knee as the batch 16x2 scheme at
    half the signature cost.

    Implementation is a per-row kernel run through rowmap.map_rows:
    hashlib md5 produces byte-identical values to Spark's md5 (and
    DuckDB's), the permutation products fit int64 exactly (a_i < 2^31,
    hi/lo < 2^30 => each term < 2^61, the sum < 2^63), and numpy takes the 16
    minima in one vectorized pass per document. The round-3 staged
    column-algebra form (one materialized gram-hash column + 16
    array_min(transform) passes) measured 13.7 s at sf0.1 vs 3.4 s for
    this kernel — higher-order-function lambdas run INTERPRETED per
    element, so 16 passes x ~400 grams/doc of pmod arithmetic was the
    bottleneck, not the md5s. Map-only at any scale; the shuffle above
    carries (doc_id, band, bucket) only."""
    import hashlib

    perms = MD5_MINHASH_PERMS
    a_c = np.array([_uhash_const(f"a{i}") for i in range(perms)], dtype=np.int64)
    b_c = np.array([_uhash_const(f"b{i}") for i in range(perms)], dtype=np.int64)
    c_c = np.array([_uhash_const(f"c{i}") for i in range(perms)], dtype=np.int64)

    def band_keys(doc_id, text):
        t = text.strip()
        toks = t.split()
        if len(toks) >= n:
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        else:
            grams = [t]
        gh = np.array(
            [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams],
            dtype=np.int64,
        )
        hi = gh >> 30
        lo = gh & ((1 << 30) - 1)
        # (n_grams, 16): every product < 2^61, sum < 2^63 — exact
        hs = (
            (hi[:, None] * a_c[None, :] + lo[:, None] * b_c[None, :] + c_c)
            % UHASH_M
        ).min(axis=0)
        keys = [f"{hs[2 * b]}:{hs[2 * b + 1]}" for b in range(MD5_MINHASH_BANDS)]
        return [
            (doc_id, b, int(hashlib.md5(k.encode()).hexdigest()[:15], 16))
            for b, k in enumerate(keys)
        ]

    return map_rows(
        df.select("doc_id", "text"),
        band_keys,
        "doc_id BIGINT, band INT, bucket BIGINT",
    )


def winnowing_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 4,
    share_threshold: int = 5,
    df_cap: int = 50,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm; public method): hash every
    positional word k-gram, slide a window of w consecutive hashes,
    and select the MINIMUM hash of each window (rightmost occurrence
    on ties — "robust winnowing"), guaranteeing any match of length
    >= k+w-1 tokens shares a fingerprint. The selected (position,
    hash) set is the document's fingerprint; docs sharing >=
    `share_threshold` fingerprint values are near-dup partners.

    Output contract (canonical, not pairs): one row per document —
    (doc_id, n_fingerprints, canonical_id) where canonical_id is the
    CONNECTED-COMPONENT minimum over the partner graph (self if no
    partner) via dedup_components' min-propagation — transitively
    consistent (A~B and B~C land on one canonical), the same
    linear-in-corpus contract as dedup_minhash_canonical.

    Determinism: hashes are the md5-15-hex->bigint house convention
    (bit-identical in DuckDB); window minima, rightmost-tie selection
    (a when-chain over the trailing lead columns), and the partner
    argmin are integer ops.

    Plan shape: grams and window minima are built with posexplode +
    lead windows over (doc_id, pos) — whole-stage-codegen expressions
    throughout, the staged-hash shape that replaced interpreted
    per-element HOF md5 in gopher_repetition_rules (measured 8x there
    and 23x here); the one added shuffle clusters tokens by doc_id
    and is linear in corpus size. The sharing join runs on df-capped
    postings (a fingerprint value seen in > df_cap docs is boilerplate
    and is dropped, bounding pair fan-out exactly like gram_postings),
    so later shuffles carry (doc, fp) postings, never documents."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", "")
    ws = F.filter(F.split(normalized, " "), lambda t: t != "")
    toks = documents.select(
        "doc_id", F.posexplode(ws).alias("pos", "tok")
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    # gram hash at 1-based position j = pos+1: md5 of the space-joined
    # k tokens starting there — identical bytes to the oracle's
    # md5(array_to_string(ws[i:i+k-1])) convention
    tok_leads = [F.lead("tok", i).over(wspec).alias(f"t{i}") for i in range(1, k)]
    grams = (
        toks.select("doc_id", "pos", F.col("tok").alias("t0"), *tok_leads)
        .filter(F.col(f"t{k-1}").isNotNull())
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("j"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", *[F.col(f"t{i}") for i in range(k)])),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h0"),
        )
    )
    # sliding window of w consecutive gram hashes via lead; min + the
    # RIGHTMOST position attaining it ("robust winnowing" tie rule)
    hspec = Window.partitionBy("doc_id").orderBy("j")
    h_leads = [F.lead("h0", i).over(hspec).alias(f"h{i}") for i in range(1, w)]
    windows = grams.select("doc_id", "j", "h0", *h_leads).filter(
        F.col(f"h{w-1}").isNotNull()
    )
    val = F.least(*[F.col(f"h{i}") for i in range(w)])
    # when-chain built inner-to-outer so the OUTERMOST branch tests the
    # highest lead index — the rightmost occurrence of the minimum wins
    sel_expr = F.lit(0)
    for i in range(1, w):
        sel_expr = F.when(F.col(f"h{i}") == val, F.lit(i)).otherwise(sel_expr)
    fps = (
        windows.select(
            "doc_id",
            (F.col("j") + sel_expr).alias("sel"),
            val.alias("val"),
        )
        .distinct()
    )
    # fps feeds three consumers (n_fp, postings, and — via pruned — both
    # sides of the sharing self-join): materialize the token/window
    # pipeline once instead of four recomputes. Linear in corpus size
    # (one row per selected fingerprint, ~|tokens|/w). Lazy: the first
    # full-partition action downstream (the components round-1 sum)
    # carries the materialization, saving a scheduled job.
    fps = fps.localCheckpoint(eager=False)
    n_fp = fps.groupBy("doc_id").agg(F.count("*").alias("n_fingerprints"))
    postings = fps.select("doc_id", "val").distinct()
    rare = (
        postings.groupBy("val")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("val")
    )
    # df-capped postings are the self-join input read twice — pin them
    pruned = postings.join(rare, "val").localCheckpoint(eager=False)
    pairs = (
        pruned.alias("a")
        .join(pruned.alias("b"), "val")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("partner")
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= share_threshold)
    )
    edges = pairs.filter(F.col("doc_id") < F.col("partner")).select(
        F.col("doc_id").alias("a_id"), F.col("partner").alias("b_id")
    )
    comp = dedup_components(documents.select("doc_id"), edges)
    return (
        documents.select("doc_id")
        .join(n_fp, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_fingerprints"), F.lit(0))
            .cast("long")
            .alias("n_fingerprints"),
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("canonical_id"),
        )
        .orderBy("doc_id")
    )


def dedup_downweight(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Soft dedup (the SlimPajama / 'documents are worth keeping once'
    policy family, public method): instead of dropping near-duplicate
    documents, every document gets sampling weight 1 / |its near-dup
    component|, so each duplicate CLUSTER contributes unit mass to the
    training mixture and unique documents keep weight 1.

    Composition: dedup_components labels the graph (vertex-restricted
    propagation — dup-mass-bounded, see SCALING.md round 5); component
    sizes are one groupBy on the label; the weight is scalar algebra.
    All shuffles carry (doc_id, component_id) longs — linear in corpus
    size at 100 TB, like every production-path dedup op here."""
    comp = dedup_components(documents, pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("component_size")
    )
    return (
        comp.join(sizes, "component_id")
        .select(
            "doc_id",
            "component_id",
            F.col("component_size").cast("long").alias("component_size"),
            (
                F.floor(1.0 / F.col("component_size") * 1e6 + F.lit(0.5)) / 1e6
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


def canonical_url(url: Column) -> Column:
    """RFC-3986-flavored URL canonicalization as ONE codegen column
    expression — the first stage of web-corpus URL dedup (the
    CCNet/RefinedWeb pipelines dedup fetched pages by canonical URL
    before any content hashing; public method):

      1. drop the fragment,
      2. lowercase scheme and host,
      3. strip an explicit default port (:443 https / :80 http),
      4. strip ONE trailing slash from a non-root path,
      5. drop utm_* tracking parameters and SORT the survivors.

    Everything is built-in string/array algebra (split, lower, filter,
    array_sort, array_join) — no UDF, whole-stage codegen, map-only.

    Separator semantics are FIRST-occurrence throughout (locate +
    substring / limit-2 split): a second '://' or '?' inside the query
    string (e.g. '?redirect=https://x' or '?a=b?c') belongs to the
    query and must not re-anchor the parse — after-last extraction
    (substring_index(..., -1)) would mis-canonicalize exactly those
    URLs."""
    no_frag = F.split(url, "#").getItem(0)
    scheme = F.lower(F.split(no_frag, "://").getItem(0))
    rest = F.substring(no_frag, F.locate("://", no_frag) + 3, F.lit(2**30))
    hostport = F.split(rest, "/").getItem(0)
    host = F.lower(F.split(hostport, ":").getItem(0))
    after_colon = F.substring(
        hostport, F.locate(":", hostport) + 1, F.lit(2**30)
    )
    default_port = F.when(scheme == "http", F.lit("80")).otherwise(F.lit("443"))
    port = F.when(
        F.contains(hostport, F.lit(":")) & (after_colon != default_port),
        F.concat(F.lit(":"), after_colon),
    ).otherwise(F.lit(""))
    path_q = F.substring(rest, F.length(hostport) + 1, F.lit(2**30))
    path = F.split(path_q, r"\?").getItem(0)
    query = F.when(
        F.contains(path_q, F.lit("?")),
        F.substring(path_q, F.locate("?", path_q) + 1, F.lit(2**30)),
    ).otherwise(F.lit(""))
    path_c = F.when(path == "/", F.lit("/")).otherwise(
        F.regexp_replace(path, "/$", "")
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    # Scheme-less guard: F.locate('://', ...) returns 0 when absent, so
    # the substring above would start at index 3 and silently drop the
    # first two characters. A string with no '://' is not a URL this
    # canonicalizer understands — pass it through with ONLY the fragment
    # stripped (fragment stripping must stay uniform across branches, or
    # two inputs differing only in '#frag' would canonicalize to
    # different dedup keys). The DuckDB oracle fixtures always carry a
    # scheme, so this branch is engine hygiene, unit-tested in
    # tests/test_round11.py.
    return F.when(F.locate("://", no_frag) == 0, no_frag).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            port,
            path_c,
            F.when(params != "", F.concat(F.lit("?"), params)).otherwise(
                F.lit("")
            ),
        )
    )
