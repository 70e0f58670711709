"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Spark-first shapes (what survives at 100 TB / 10^12 docs):

- exact: one hash-shuffle on md5(text) — the minimum possible.
- n-gram Jaccard: shingle-explode → self-join on shingle → count. Quadratic
  in the worst case; at scale it is ONLY used to verify candidate pairs
  from LSH (bounded fan-in), never as a full self-join. The full-pair form
  here is the small-scale oracle-checkable variant.
- MinHash+LSH: shingle → K permuted minima → B bands → bucket-join. Scales
  linearly; hot buckets (boilerplate docs) are the skew risk — AQE skew-join
  handles the candidate join, and band keys include the band id so no
  single reducer sees all bands.
- SimHash: token-hash sign aggregation — one map + one groupBy(doc).

All hashes are the shared md5-derived 60/31-bit family (functions/hashing)
so every operator has an exact DuckDB SQL twin for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from moonlink_spark.functions.hashing import MERSENNE_31, hex_int, perm_coeff
from moonlink_spark.pipeline.util import fan_out

SIMHASH_BITS = 60  # shared hash yields 60 bits (15 hex chars)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.
    Returns (keeper_id, text_md5, dup_count). One shuffle, map-side combine."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
        .select("keeper_id", "text_md5", "dup_count")
    )


def word_shingles(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word k-shingles per doc: (id, shingle). Map-side explode —
    no shuffle until the consumer aggregates: per-doc distinctness is
    ``array_distinct`` in the array domain BEFORE the explode, where the
    old row-level ``.distinct()`` paid a full shuffle of every (id, shingle)
    string for the same result.

    Precondition: *id_col* is unique per input row. Two rows sharing an id
    each emit their own shingles, so the id's (id, shingle) pairs repeat and
    any shingle-count or Jaccard built on them is wrong."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    shingles = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.array_join(F.slice(words, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))
    return fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    inter from a self-join on shingle; |A∪B| = |A|+|B|−inter. The join
    shuffles on the shingle value — frequent shingles are the skew axis
    (AQE skew split on). Full-pair form: use only on bounded inputs or as
    the LSH verification kernel."""
    sh = word_shingles(df, k=k, text_col=text_col, id_col=id_col)
    return _jaccard_from_shingles(sh, threshold)


def _jaccard_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _minhash_wide(
    sh: DataFrame, num_perms: int
) -> DataFrame:
    """Wide MinHash: (id, mh0..mh{K-1}) in ONE shuffle — the per-perm minima
    are K independent map-side-combined aggregates over the exploded
    shingles, not a perm cross-join (K× row blowup) plus a (id, perm)
    shuffle. h' = shared_hash(shingle) mod P; perm_i = (a_i·h' + b_i) mod P,
    P = 2^31−1 so every intermediate fits int64 exactly in both engines."""
    hp = (hex_int(F.col("shingle")) % F.lit(MERSENNE_31)).alias("hp")
    # K aggregates as server-parsed SQL strings: one F.expr round-trip per
    # permutation instead of ~6 py4j Column calls each — DataFrame BUILD
    # time (pure driver) dominated repeat invocations of these ops
    aggs = [
        F.expr(
            f"min(({perm_coeff('a', i, MERSENNE_31)}L * hp "
            f"+ {perm_coeff('b', i, MERSENNE_31)}L) % {MERSENNE_31}L) AS mh{i}"
        )
        for i in range(num_perms)
    ]
    return sh.select("id", hp).groupBy("id").agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    num_perms: int = 32,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures in long form (id, perm, minhash) — unpivoted from
    the single-shuffle wide aggregation."""
    wide = _minhash_wide(word_shingles(df, k=k, text_col=text_col, id_col=id_col), num_perms)
    stack_args = ", ".join(f"{i}, mh{i}" for i in range(num_perms))
    return wide.selectExpr(
        "id", f"stack({num_perms}, {stack_args}) AS (perm, minhash)"
    ).select("id", F.col("perm").cast("int"), F.col("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    num_perms: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Band signature = shared_hash of the comma-joined minima of the band
    (plain column concat off the wide signature row — zero extra shuffle);
    candidates = docs sharing any (band, signature) bucket (one hash join);
    final pairs are verified with exact shingle Jaccard ≥ threshold over
    the candidate subset, so LSH false positives cost compute, never
    wrong output. Hot buckets (boilerplate) are the skew axis — AQE
    skew-join splits them."""
    rows_per_band = num_perms // bands
    # STAGE (localCheckpoint), don't lazy-cache: shingles feed the signature
    # aggregation AND the verification kernel, and buckets/candidates each
    # feed multiple consumers — lazy caches re-derive the whole upstream
    # chain inside one mega-job and the plan grows multiplicatively
    # (measured at sf0.1: cache 8-15s, checkpoint 4.7-5.8s; round-1 driver
    # saw 26.8s under load). Checkpointing truncates lineage so every
    # consumer reads the materialized rows. On a cluster, executor-local
    # checkpoint storage is the cheap choice; use reliable checkpointing if
    # executors are preemptible.
    sh = word_shingles(df, k=k, text_col=text_col, id_col=id_col).localCheckpoint(eager=True)
    wide = _minhash_wide(sh, num_perms).localCheckpoint(eager=True)

    # all B bucket ids in ONE pass over the wide row (explode, not a B-way
    # union — a union would recompute the aggregation per band); each
    # bucket id is one server-parsed SQL string (build-time, see
    # _minhash_wide)
    from moonlink_spark.functions.hashing import spark_sql_hex_int

    bucket_exprs = []
    for band in range(bands):
        cols = [f"mh{i}" for i in range(band * rows_per_band, (band + 1) * rows_per_band)]
        sig = f"concat_ws(',', {', '.join(f'cast({c} as string)' for c in cols)})"
        bucket_exprs.append(
            F.expr(spark_sql_hex_int(f"concat_ws('|', '{band}', {sig})"))
        )
    buckets = wide.select("id", F.explode(F.array(*bucket_exprs)).alias("bucket"))

    l = buckets.alias("l")
    r = buckets.alias("r")
    candidates = (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # verification kernel: exact jaccard over the staged shingles, restricted
    # to candidate docs (semi-join) — shingles are NOT recomputed
    # no .distinct() on the id list: left_semi neither multiplies nor
    # cares about duplicate build-side rows, so the dedup shuffle was
    # pure overhead
    cand_ids = candidates.select(F.col("doc_a").alias("id")).union(
        candidates.select(F.col("doc_b").alias("id"))
    )
    sub = sh.join(cand_ids, "id", "left_semi")
    verified = _jaccard_from_shingles(sub, threshold)
    return candidates.join(verified, ["doc_a", "doc_b"]).select("doc_a", "doc_b", "jaccard")


def simhash_pairs(
    df: DataFrame,
    radius: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ *radius*.

    Banded search (the classic Charikar/Manku trick): split the fingerprint
    into *bands* equal bit-chunks; any pair within Hamming distance
    ≤ bands−1 must agree EXACTLY on at least one band (pigeonhole), so
    candidates = pairs sharing any (band, chunk-value) bucket — a hash join,
    never an all-pairs explosion — then one codegen'd
    bit_count(xor) verifies the exact distance. Exact recall requires
    radius ≤ bands−1 (asserted)."""
    sh = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    sh = sh.localCheckpoint(eager=True)  # feeds bucketing AND verification
    return _banded_hamming_pairs(sh, radius=radius, bands=bands, bits=bits)


def hamming_near_dup_pairs(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "image_id",
    radius: int = 2,
    bands: int = 4,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs among PRECOMPUTED integer fingerprints — e.g. image
    perceptual hashes (phash), where Hamming distance ≤ *radius* means
    visually-identical-up-to-recompression. Same banded pigeonhole search
    as simhash_pairs, skipping the fingerprint computation: the input
    column IS the fingerprint. No checkpoint needed — the source is a
    column scan, cheap to recompute on both consumers. Returns
    (doc_a, doc_b, hamming) keyed by *id_col* values."""
    fp = df.select(F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("simhash"))
    return _banded_hamming_pairs(fp, radius=radius, bands=bands, bits=bits)


def _banded_hamming_pairs(
    sh: DataFrame, radius: int, bands: int, bits: int
) -> DataFrame:
    """Pairs (a < b) with Hamming(fingerprint) ≤ radius from an (id, simhash)
    frame, via banding: any pair within distance ≤ bands−1 must agree
    EXACTLY on at least one band (pigeonhole), so candidates = pairs
    sharing any (band, chunk-value) bucket — a hash join, never all-pairs —
    then one codegen'd bit_count(xor) verifies the exact distance. Exact
    recall requires radius ≤ bands−1 (asserted). Hot buckets (a dominant
    fingerprint prefix) are the skew axis — AQE skew-join splits them."""
    if radius > bands - 1:
        raise ValueError(f"radius {radius} needs at least {radius + 1} bands for exact recall")
    width = bits // bands
    mask = (1 << width) - 1
    chunks = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for b in range(bands)
    ]
    buckets = sh.select("id", F.explode(F.array(*chunks)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col("id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= radius)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
    algorithm: str = "star",
) -> DataFrame:
    """Connected components over an undirected edge list: every node is
    labeled with the MIN node id reachable from it. Returns (id, group_id).

    algorithm="star" (default, the scale path): the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14). Each round is two groupBy+join
    passes over the CURRENT edge set and at least halves every tree's
    height, so convergence is O(log diameter) rounds regardless of chain
    length — the property label propagation lacks. The edge set also
    shrinks toward one star per component, so late rounds are nearly free.

    algorithm="label": min-label propagation — every node takes the min of
    its neighbors' labels each round; O(graph diameter) rounds. Fine for
    shallow near-dup clusters (duplicates of duplicates), kept as the
    simpler cross-check implementation; both algorithms are fixture-equal
    in tests.

    Either way each round's output is localCheckpoint'd so the plan stays
    O(1) deep instead of O(rounds), and non-convergence fails loud."""
    if algorithm == "star":
        return _cc_star(edges, src, dst, max_iterations)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r} (star|label)")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("lbl").alias("nbl"))
            .withColumnRenamed("a", "id")
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exiting with unconverged labels would SILENTLY split components
        # (keeping duplicates the dedup policy says to collapse) — fail loud
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing) — the graph has "
            f"chains longer than max_iterations; raise it or use the default "
            f"algorithm='star' (O(log diameter) rounds)"
        )
    return labels.select(F.col("id"), F.col("lbl").alias("group_id"))


def _cc_star(edges: DataFrame, src: str, dst: str, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14 §3).

    large-star — for every node u with neighborhood N(u) (both edge
    directions), m = min(N(u) ∪ {u}): rewrite each edge to a LARGER
    neighbor v > u as (v, m). small-star — orient every edge toward its
    larger endpoint, m = min(smaller neighbors ∪ {u}): rewrite each
    (u, v ≤ u) as (v, m) and keep (u, m). Both preserve connectivity; the
    fixpoint is one star per component rooted at its minimum id. Round
    cost is two shuffles (groupBy min + join back) per phase; convergence
    is detected with an order-free checksum (count + sum of edge hashes)
    so each round adds exactly one small action."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(df: DataFrame) -> tuple:
        canon = df.select(
            F.xxhash64(F.least("a", "b"), F.greatest("a", "b")).alias("h")
        )
        row = canon.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor("h"), F.lit(0)).alias("s"),
        ).first()
        return (row["n"], row["s"])

    prev = _checksum(e)
    for _ in range(max_iterations):
        # ---- large-star ------------------------------------------------
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        nmin = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least(F.col("mb"), F.col("a")).alias("m"))
        )
        e = (
            sym.join(nmin, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star ------------------------------------------------
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        nmin = (
            oriented.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least(F.col("mb"), F.col("a")).alias("m"))
        )
        joined = oriented.join(nmin, "a")
        e = (
            joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(joined.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge within "
            f"{max_iterations} rounds — with O(log diameter) convergence "
            f"this indicates a pathological input or a bug, not scale"
        )
    # fixpoint edges are (member, component-min) stars; roots (the min of
    # each component, and isolated nodes) label themselves
    canon = e.select(F.greatest("a", "b").alias("id"), F.least("a", "b").alias("lbl"))
    member = canon.groupBy("id").agg(F.min("lbl").alias("group_id"))
    roots = nodes.join(member, "id", "left_anti").select(
        "id", F.col("id").alias("group_id")
    )
    return member.select("id", "group_id").union(roots)


def dedup_groups(
    df: DataFrame,
    num_perms: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate GROUP assignment: MinHash+LSH verified pairs →
    connected components → (doc_id, group_id = min doc id of the cluster).
    Only docs participating in at least one verified near-dup pair appear;
    the keeper of each group is the doc whose id equals group_id — the
    dedup policy a training-data pipeline actually executes (keep one doc
    per duplicate CLUSTER, not per pairwise match, since near-dup is not
    transitive at the pair level)."""
    pairs = minhash_lsh_pairs(
        df, num_perms=num_perms, bands=bands, threshold=threshold, k=k,
        text_col=text_col, id_col=id_col,
    ).select("doc_a", "doc_b")
    return connected_components(pairs).withColumnRenamed("id", "doc_id")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Charikar SimHash over whitespace tokens, weighted by term frequency.

    bit b of the fingerprint = sign of Σ_tokens tf·(2·bit_b(hash(token))−1).
    One explode + one groupBy(id): the per-bit sums are 60 independent
    BRANCH-FREE aggregates, all map-side combined — a single shuffle. The
    tf weighting is implicit: aggregating over token OCCURRENCES equals
    weighting distinct tokens by tf, so no (id, token) pre-aggregation
    shuffle is needed; and the signed sum is recovered from plain bit
    sums (Σ±1 = 2·Σbit_b − N, exact in integers), so each aggregate is a
    shift+mask+sum instead of a CASE WHEN — measured 3× faster at equal
    output. The token hash is projected once below the aggregation."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = fan_out(df).select(F.col(id_col).alias("id"), F.explode(words).alias("token"))
    hashed = tok.select("id", hex_int(F.col("token")).alias("_h"))
    # per-bit aggregates and the fingerprint reassembly as server-parsed
    # SQL strings: the bench builds this DataFrame fresh per invocation,
    # and ~120 py4j Column constructions cost more driver time than the
    # whole distributed execution (measured 1.2 s build vs 0.5 s exec)
    contribs = [
        F.expr(f"sum(shiftright(_h, {b}) & 1) AS b{b}") for b in range(bits)
    ]
    per_bit = hashed.groupBy("id").agg(F.count("*").alias("_n"), *contribs)
    sim_sql = " + ".join(
        f"(CASE WHEN 2 * b{b} > _n THEN CAST({1 << b} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return per_bit.select(F.col("id"), F.expr(sim_sql).alias("simhash"))
