"""Deduplication over document tables — exact and near-dup families.

Scale notes (the whole point of these):
  - exact:    one hash-groupBy shuffle on a 32-char key; partial agg
              collapses duplicates map-side.
  - minhash:  signatures are computed per row with codegen'd expressions
              (shingle → ONE xxhash64 → num_hashes affine-permutation
              lanes → min); LSH banding
              turns all-pairs O(n²) into a groupBy on (band, band_hash)
              buckets — the only shuffle is by bucket key, and candidate
              verification happens inside small buckets.
  - simhash:  64-bit signature via per-word hash bit-voting; near-dups =
              equal simhash prefix buckets (or full equality) — again a
              bucket groupBy, never a cross join.
  - embedding near-dup: exact cosine over LSH-candidate pairs; the
              brute-force variant exists for small dims / verification.

Wide expressions (one lane, band or literal vector per term) are built
as ONE SQL text and one ``F.expr`` call, never term by term through the
Column API: each Column call is a driver→JVM round trip, so an 80-lane
signature built term by term costs thousands of them before any job runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _dlit(x: float) -> str:
    """Exact SQL double literal: ``repr`` round-trips every finite double
    and the ``D`` suffix keeps it a double (a bare ``0.5`` is a decimal)."""
    x = float(x)
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _vec_sql(vec) -> str:
    """A literal vector as an ``array<double>`` SQL expression."""
    return "array(" + ", ".join(_dlit(x) for x in vec) + ")"


def dot_sql(a: str, b: str) -> str:
    """Dot product of two array SQL expressions: a left fold (``aggregate``)
    over the element-wise products, each cast to double — the one fold
    order every cosine, signature and DuckDB replica here reproduces."""
    return (
        f"aggregate(zip_with({a}, {b}, (__x, __y) -> CAST(__x * __y AS DOUBLE)),"
        f" 0.0D, (__acc, __p) -> __acc + __p)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (__acc, __x) -> __acc + CAST(__x * __x AS DOUBLE)))"


def cosine_sql(a: str, b: str) -> str:
    """Cosine of two array SQL expressions (column identifiers, literal
    vectors or lambda variables)."""
    return f"{dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _norm_text(text_col: str) -> Column:
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def hash60(c: Column, salt: str = "") -> Column:
    """Cross-engine-checkable 60-bit hash: first 15 hex chars of md5,
    parsed as an integer. DuckDB computes the identical value with
    ``CAST(concat('0x', substr(md5(s || salt), 1, 15)) AS BIGINT)`` —
    which is what lets the driver oracle verify the full MinHash/SimHash
    pipelines value-for-value. Slower than xxhash64 (md5 is cryptographic);
    production paths default to xxhash64 and use this only when an
    external system must reproduce the hashes."""
    s = F.concat(c, F.lit(salt)) if salt else c
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _hash60_sql(s: str, salt: str) -> str:
    """hash60 of a SQL expression, as SQL text (same expression tree)."""
    return f"CAST(conv(substring(md5(concat({s}, '{salt}')), 1, 15), 16, 10) AS BIGINT)"


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the minimum id per content
    hash. Returns the surviving rows (all original columns)."""
    hashed = df.withColumn("__h", F.md5(_norm_text(text_col)))
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, ["__h", id_col], "left_semi").drop("__h")
    )


# --- MinHash + LSH ----------------------------------------------------

def _shingle_seq(norm: Column, k: int) -> Column:
    """Character k-shingles of a PRE-STAGED normalized-text column
    (codegen: substr over a sequence — no Python). ``norm`` MUST be an
    attribute reference behind a projection boundary: the transform
    lambda references it once PER ELEMENT, so an inline normalization
    expression would re-run lower/regexp_replace/trim ~|text| times per
    row (measured: 16 s → 0.3 s single-core on 5k docs at sf0.1)."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substring(norm, i, k))


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a under-partitioned input across the cluster before
    CPU-heavy per-row stages. Signature computation is compute-bound, not
    byte-bound: a small-bytes scan (one parquet file under
    maxPartitionBytes) arrives as 1 partition and would pin the whole
    signature stage to one core. The repartition shuffles only the bytes
    the scan read; when the input already has >= defaultParallelism
    partitions (any at-scale table) it is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Affine MinHash family over a Mersenne prime: each shingle is hashed
# ONCE (xxhash64 reduced mod p), and lane j is min over shingles of
# (a_j·h + b_j) mod p — the standard universal-hash permutation family
# (the same construction Spark MLlib's MinHashLSH uses). Versus hashing
# every shingle num_hashes times, shingle hashing drops by num_hashes×;
# the affine derivation is two long ops per (shingle, lane). p = 2^31-1
# keeps a·h + b < 2^62: no 64-bit overflow, ANSI-safe.
_MH_PRIME = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME))
        for _ in range(num_hashes)
    ]


def shingle_hashes(text_col: str, k: int) -> Column:
    """xxhash64 of each k-shingle, reduced to [0, p) — computed ONCE per
    shingle; every minhash lane derives from this array. No distinct
    pass: min over a multiset equals min over its set, so duplicate
    shingles cannot change any minhash lane and array_distinct's O(n²)
    string comparisons are pure waste here. (Inline normalization —
    pipelines stage the normalized text first, see minhash_lsh_pairs.)"""
    return F.transform(
        _shingle_seq(_norm_text(text_col), k),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)),
    )


def minhash_signature_affine(
    hashed: str, num_hashes: int = 16, seed: int = 7
) -> Column:
    """Signature from a pre-materialized shingle-hash array column: lane
    j is min over (a_j·h + b_j) mod p. ``hashed`` names a column behind a
    projection boundary — each array_min re-evaluates its input
    expression, so an inline expression would re-hash every shingle
    num_hashes times (the exact pathology this family removes)."""
    h = _ident(hashed)
    lanes = ", ".join(
        f"array_min(transform({h}, __h -> pmod(__h * {a} + {b}, {_MH_PRIME})))"
        for a, b in _affine_params(num_hashes, seed)
    )
    return F.expr(f"array({lanes})")


def _md5_signature(shingles: str, num_hashes: int) -> Column:
    """Oracle-family signature: lane j is min over the shingles of
    hash60(shingle || '|' || j) — cross-engine reproducible (see hash60).
    ``shingles`` names a staged DISTINCT shingle array (the DuckDB
    replica uses list_distinct)."""
    sh = _ident(shingles)
    lanes = ", ".join(
        f"array_min(transform({sh}, __s -> {_hash60_sql('__s', f'|{j}')}))"
        for j in range(num_hashes)
    )
    return F.expr(f"array({lanes})")


def _signature_frame(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, k: int, hash_fn: str
) -> DataFrame:
    """``(id_col, __sig)``: the staged MinHash signature of every row.

    Evaluate-once staging, the property every heavy expression here
    needs (Catalyst does not CSE repeated or lambda-referenced
    subexpressions):
      1. the NORMALIZED TEXT goes behind a projection boundary — the
         shingle transform references it once per element, so inline it
         would re-run lower/regexp_replace/trim |shingles| times per row
         (measured 16 s → 0.3 s single-core at sf0.1);
      2. the per-shingle work (distinct array / hash array) goes behind a
         second boundary — the num_hashes array_min lanes each
         re-evaluate their input (measured 45 s → 10 s at sf0.01).

    hash_fn='md5_60' is the oracle family (per-lane salted md5 over the
    distinct shingles); 'xxhash64' is the production family (one
    xxhash64 per shingle, no distinct pass — min over a multiset equals
    min over its set — and affine lanes derived from the hash array)."""
    staged = df.select(F.col(id_col), _norm_text(text_col).alias("__t"))
    shingles = _shingle_seq(F.col("__t"), k)
    if hash_fn == "md5_60":
        return staged.select(
            F.col(id_col), F.array_distinct(shingles).alias("__sh")
        ).select(F.col(id_col), _md5_signature("__sh", num_hashes).alias("__sig"))
    return staged.select(
        F.col(id_col),
        F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))).alias("__hs"),
    ).select(F.col(id_col), minhash_signature_affine("__hs", num_hashes).alias("__sig"))


def _explode_bands(sig: DataFrame, id_col: str, buckets: list[str]) -> DataFrame:
    """``(id_col, band, bucket)``: one row per band, bucket b given as
    SQL text over the row's ``__sig``."""
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {bucket})" for b, bucket in enumerate(buckets)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Band buckets of a ``(id_col, __sig)`` signature frame — the one
    bucket format batch LSH and the streaming operator both key on.
    Band b hashes lanes [b·r, (b+1)·r), r = num_hashes // bands; the
    md5_60 family writes the bucket as a '-'-joined string any engine
    can reproduce."""
    r = num_hashes // bands

    def bucket(b: int) -> str:
        lanes = [f"__sig[{b * r + i}]" for i in range(r)]
        if hash_fn == "md5_60":
            return "concat_ws('-', " + ", ".join(f"CAST({v} AS STRING)" for v in lanes) + ")"
        return f"CAST(xxhash64({', '.join(lanes)}) AS STRING)"

    return _explode_bands(sig, id_col, [bucket(b) for b in range(bands)])


def _member_pairs() -> Column:
    """The i<j member combinations of a group's sorted ``__ids`` array as
    an array of (id_a, id_b) structs — pair expansion inside each group,
    so no self-join re-shuffles the grouped rows."""
    ids = F.col("__ids")
    return F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )


def _bucket_pairs(
    banded: DataFrame, id_col: str, max_bucket_size: int | None
) -> DataFrame:
    """Distinct (id_a, id_b) pairs of ids sharing a (band, bucket): ONE
    shuffle groups each bucket and expands its members as an expression
    — a self-join on the bucket key would shuffle the banded rows twice
    and re-run the whole signature pipeline for each side. Bucket
    membership is O(members) state per group; the cap drops degenerate
    buckets after a size check (their members are exact/extreme dups —
    route through dedup_exact, O(B))."""
    buckets = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(_member_pairs()).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature is split into `bands` bands of num_hashes/bands rows; docs
    sharing any band hash become a candidate pair. Returns distinct
    (id_a, id_b) with id_a < id_b. The heavy lifting is one groupBy on the band
    bucket — self-cross-join only *within* buckets (tiny by construction).

    max_bucket_size caps the degenerate case: a bucket of B identical
    docs still yields O(B²) pairs, so buckets above the cap are DROPPED
    from candidate generation (their members are by construction exact
    or extreme dups — route those through dedup_exact first, which is
    O(B)). The cap turns worst-case quadratic blowup at 100-TB scale
    into a bounded skip; dropped buckets are observable via the
    ``lsh_dropped_buckets`` metric column pattern in tests.
    """
    # a compute-bound stage must not inherit a byte-sized partition
    # count — see _ensure_parallelism
    sig = _signature_frame(_ensure_parallelism(df), text_col, id_col, num_hashes, k, hash_fn)
    banded = minhash_bands(sig, id_col, num_hashes, bands, hash_fn)
    return _bucket_pairs(banded, id_col, max_bucket_size)


# --- SimHash ----------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash: each word votes ±1 per bit of its hash; the signature bit
    is 1 where the vote sum is positive. All expression-level (aggregate
    over the word array), no UDF. hash_fn='md5_60' limits useful bits to
    60 but is reproducible in any engine (see hash60)."""
    words = F.split(_norm_text(text_col), " ")
    if hash_fn == "md5_60":
        h = F.transform(words, lambda w: hash60(w))
    else:
        h = F.transform(words, lambda w: F.xxhash64(w))
    # materialize the word-hash array ONCE behind a projection boundary —
    # every per-bit vote aggregate references it, and an inline expression
    # would re-normalize/split/hash the text `bits` times per row (same
    # fix as minhash_lsh_pairs)
    staged = df.withColumn("__sh_h", h)
    harr = F.col("__sh_h")
    one = F.lit(1).cast("long")

    def vote_fn(mask):  # closure factory: binds this bit's mask, not the loop's last
        return lambda acc, x: acc + F.when(x.bitwiseAND(mask) != 0, 1).otherwise(-1)

    bit_cols = []
    for b in range(bits):
        mask = F.shiftleft(one, b)  # b=63 wraps to the sign bit, still a valid mask
        votes = F.aggregate(harr, F.lit(0), vote_fn(mask))
        bit_cols.append(F.when(votes > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long")))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig.bitwiseOR(c)
    return staged.withColumn(out_col, sig).drop("__sh_h")


def simhash_hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# --- n-gram Jaccard ----------------------------------------------------

def ngram_jaccard(
    df_pairs: DataFrame,
    df_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs
    (id_a, id_b) — the verification stage after LSH. Joining the (small)
    candidate set back to docs twice is two hash joins keyed on id.

    The word array is staged behind a projection boundary before the
    gram transform: the lambda references it once per gram, so an inline
    split-of-normalized-text would re-run normalization+split |grams|
    times per row (same non-CSE pathology as minhash_lsh_pairs)."""
    staged = df_docs.select(
        F.col(id_col), F.split(_norm_text(text_col), " ").alias("__w")
    )
    words = F.col("__w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )
    docs = staged.select(F.col(id_col), grams.alias("__g"))
    a = docs.withColumnRenamed(id_col, "id_a").withColumnRenamed("__g", "__ga")
    b = docs.withColumnRenamed(id_col, "id_b").withColumnRenamed("__g", "__gb")
    joined = df_pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    return joined.select(
        "id_a", "id_b",
        F.round(F.when(union > 0, inter / union).otherwise(0.0), 6).alias("jaccard"),
    )


# --- embedding cosine near-dup -----------------------------------------

def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int = 100,
    lower: bool = True,
) -> DataFrame:
    """EXACT duplicated-span detection: pairs of documents sharing at
    least one identical k-word span, with the count of distinct shared
    spans — the deterministic complement to MinHash (which approximates
    whole-document Jaccard and can miss a verbatim paragraph pasted into
    an otherwise-unrelated page). This is the n-gram-bucket flavor of
    Lee et al. 2022's exact-substring dedup ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed as one Spark
    aggregation instead of a suffix array.

    Returns ``(id_a, id_b, n_spans)`` with id_a < id_b; ``n_spans``
    counts DISTINCT shared k-grams.

    Scale shape — one shuffle, bounded fan-out:

    * each doc's distinct k-grams are hashed to longs (xxhash64) before
      the exchange, so shuffle rows are (long, id) instead of k-word
      strings — ~10× fewer bytes at k=8;
    * grams group once; each group's sorted member list expands to i<j
      pairs as an expression (same group-then-expand as
      minhash_lsh_pairs — a self-join would shuffle the grams twice);
    * ``max_df`` drops grams appearing in more docs than the cap BEFORE
      pair expansion: boilerplate (headers, licenses) otherwise yields
      O(df²) pairs per gram — the classic skew bomb at web scale. The
      cap is the same bounded-skip contract as minhash's
      max_bucket_size; capped grams are by construction template text,
      not meaningful overlap.

    A cross-document xxhash64 collision could merge two unrelated grams
    (~2^-64 per gram pair) — the same accepted bound as every other
    hash lane here; the DuckDB oracle counts the gram strings
    themselves, so the driver check would surface a collision as a
    value mismatch."""
    from qsvspark.functions.text import word_ngrams

    staged = _ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), k, lower=lower))
        ).alias("__g"),
    ).select(F.col(id_col), F.xxhash64("__g").alias("__h"))
    groups = staged.groupBy("__h").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    groups = groups.filter(
        (F.size("__ids") >= 2) & (F.size("__ids") <= max_df)
    )
    return (
        groups.select(F.explode(_member_pairs()).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate GROUPS from duplicate PAIRS: connected components over
    the pair graph, labeling every member with the smallest id in its
    component — the canonical final step of a dedup pipeline
    (minhash/simhash/span pairs → groups → keep one representative,
    drop the rest).

    Returns ``(id, group_id)`` for every id appearing in ``pairs``;
    ``group_id`` = min id of the component.

    Algorithm: iterative min-label propagation. Each round every node
    takes the minimum of its own label and its neighbors' labels; the
    loop stops when a round changes nothing. Rounds needed = graph
    diameter, and near-dup components are by construction tiny, dense
    clusters (diameter 1-3 — a doc cluster where A~B~C but A's label
    must hop through B), so the loop converges in a handful of rounds.
    For adversarial long-chain graphs at extreme scale, swap in the
    large-star/small-star recipe (Kiveris et al., "Connected Components
    in MapReduce and Beyond") — same output contract; not needed for
    dedup-shaped graphs.

    Job shape: the symmetric edge set is materialized once (cached by
    the first action that reads it), and each round is ONE action — a
    local checkpoint of the new label set, whose groupBy-min carries each
    node's old label next to its new one, so an ``Observation`` on the
    same action counts the changed labels. Each round is one join
    (edges ⋈ labels) plus one groupBy-min keyed on the id; no broadcast
    of anything corpus-sized. Checkpoints cut the lineage, so a round's
    plan does not grow with the round count, and each round's labels are
    released once the next round has them.

    Raises after ``max_iter`` rounds without convergence rather than
    returning partially-propagated labels. The result is the final
    round's local checkpoint (node-count sized, tiny relative to the
    corpus): nothing stays in the cache manager, and its blocks go when
    the returned frame is garbage-collected."""
    edges = pairs.select(
        F.col(id_a).alias("__src"), F.col(id_b).alias("__dst")
    ).union(
        pairs.select(F.col(id_b).alias("__src"), F.col(id_a).alias("__dst"))
    ).distinct().cache()
    try:
        # initial label: min(self, smallest direct neighbor)
        labels = edges.groupBy("__src").agg(
            F.least(F.col("__src"), F.min("__dst")).alias("__lbl")
        ).localCheckpoint()
        for _ in range(max_iter):
            # each node pulls its neighbors' labels and keeps the min; its
            # own row carries the old label through the same groupBy
            # (both frames have a __src column — rename the labels' key)
            lbl_by_node = labels.select(
                F.col("__src").alias("__nbr"), F.col("__lbl")
            )
            neighbor_lbls = (
                edges.join(lbl_by_node, edges["__dst"] == lbl_by_node["__nbr"])
                .select(F.col("__src").alias("__id"), "__lbl", F.lit(False).alias("__self"))
            )
            changed = Observation()
            new_labels = (
                labels.select(F.col("__src").alias("__id"), "__lbl", F.lit(True).alias("__self"))
                .union(neighbor_lbls)
                .groupBy("__id")
                .agg(
                    F.min("__lbl").alias("__lbl"),
                    F.min(F.when(F.col("__self"), F.col("__lbl"))).alias("__old"),
                )
                .observe(changed, F.count_if(F.col("__lbl") != F.col("__old")).alias("n"))
                .select(F.col("__id").alias("__src"), "__lbl")
                .localCheckpoint()
            )
            _release(labels)
            labels = new_labels
            if changed.get["n"] == 0:
                break
        else:
            _release(labels)
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"(graph diameter exceeds the bound — use a larger max_iter "
                f"or the large-star/small-star variant)"
            )
    finally:
        edges.unpersist()
    return labels.select(
        F.col("__src").alias("id"), F.col("__lbl").alias("group_id")
    )


def _release(checkpointed: DataFrame) -> None:
    """Drop a local checkpoint's blocks now, not at the next JVM GC. The
    frame must not be read again. ``SparkContext.unpersistRDD`` is what
    ``RDD.unpersist`` calls, without its warning that a local checkpoint
    cannot be recomputed afterwards."""
    rdd_id = checkpointed._jdf.queryExecution().logical().rdd().id()
    checkpointed.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except its component's smallest id:
    connected_components over the pairs, then anti-join docs against
    the non-representative members. Docs in no pair pass through
    untouched (they are their own representative)."""
    groups = connected_components(pairs, id_a, id_b)
    losers = groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def cosine(a: str, b: str) -> Column:
    """Cosine of two array SQL expressions (see cosine_sql); pass column
    names through _ident."""
    return F.expr(cosine_sql(a, b))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine ≥ threshold. Brute-force O(n²) variant —
    the VERIFICATION baseline only; the scale path is
    embedding_near_dups_lsh (signature-bucketed candidates, never
    all-pairs)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", F.round(cosine("__va", "__vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dups_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 16,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup via banded random-hyperplane LSH — the 100-TB
    path: candidates only from pairs sharing a band bucket (one groupBy
    shuffle on (band, bucket), self-join inside buckets), then EXACT
    cosine verification of the (small) candidate set. No all-pairs cross
    join anywhere. Recall for cosine ≥ t with r bits/band and B bands is
    1-(1-p^r)^B where p = 1 - arccos(t)/π; with the defaults and t=0.95,
    recall > 0.9999. Same bucket-size cap semantics as minhash_lsh_pairs.
    Returns (id_a, id_b, cos) with cos rounded to 6."""
    from qsvspark.functions.similarity import _hyperplanes, signature_expr

    r = bits // bands
    planes = _hyperplanes(dim, bits, seed)
    sig = df.select(F.col(id_col), signature_expr(vec_col, planes).alias("__sig"))
    # same group-then-expand as minhash_lsh_pairs: no bucket self-join,
    # no second evaluation of the signature pipeline
    banded = _explode_bands(sig, id_col, [
        f"(shiftrightunsigned(__sig, {b * r}) & {(1 << r) - 1})" for b in range(bands)
    ])
    cand = _bucket_pairs(banded, id_col, max_bucket_size)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", F.round(cosine("__va", "__vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
