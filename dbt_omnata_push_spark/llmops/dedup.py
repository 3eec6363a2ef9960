"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- exact dedup is a single hash-shuffle on md5(content);
- MinHash signatures are per-row expressions (no shuffle); LSH banding
  turns all-pairs comparison into an equi-join on (band_id, band_key),
  so the shuffle fans in only colliding docs;
- verification (exact Jaccard on shingle sets) runs only on candidate
  pairs, never all pairs.

All hashing uses md5 hex strings so results are engine-portable (the
DuckDB oracle reproduces them bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..ops.observe import materialized, observed

DEFAULT_NUM_PERM = 8
DEFAULT_BAND_SIZE = 2
# Edge ceiling of the driver-local CC and PageRank paths: 4M id pairs
# is ~64 MB on the driver, the broadcast-join trade.
LOCAL_EDGE_LIMIT = 4_000_000


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical content by md5; keep min id as canonical.

    One shuffle keyed on the content hash (never on the content itself,
    so wide documents don't inflate the exchange).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_ngrams(
    text_col: str,
    n: int,
    hashed: bool = False,
    short_fallback: Column | None = None,
) -> Column:
    """Word n-gram array with ONCE-PER-ROW tokenization, structurally.

    The token array binds as a LAMBDA VARIABLE (a transform over a
    one-element array), never as a projected column or an inline
    expression. This matters: CollapseProject inlines column aliases
    into adjacent projects, and an expression referenced inside a
    higher-order-function lambda re-evaluates PER ELEMENT — so the
    innocent-looking element_at(split(text), i) re-tokenizes the
    document once per gram position, O(words^2) per doc (measured 10x
    whole-query cost at sf0.1 before this formulation). A lambda
    variable can never be inlined, so tokenization stays once-per-row
    regardless of optimizer project-collapsing choices.

    ``hashed`` md5s each gram inside the same lambda (fixed 32-char
    output — keeps downstream exchanges narrow). Docs with < n words
    yield ``short_fallback`` (default: empty array).
    """
    words = F.split(F.col(text_col), " ")

    def gram(wv, i):
        g = F.concat_ws(" ", *[F.element_at(wv, i + j) for j in range(n)])
        return F.md5(g) if hashed else g

    inner = F.transform(
        F.array(words),  # evaluated once per row; wv is a bound value
        lambda wv: F.transform(
            F.sequence(F.lit(1), F.size(wv) - (n - 1)), lambda i: gram(wv, i)
        ),
    )[0]
    fallback = (
        short_fallback
        if short_fallback is not None
        else F.array().cast("array<string>")
    )
    return F.when(F.size(words) >= n, inner).otherwise(fallback)


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    out: str = "shingles",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles; short docs fall back to whole text."""
    grams = word_ngrams(
        text_col, n, short_fallback=F.array(F.col(text_col))
    )
    return df.withColumn(out, F.array_distinct(grams))


def minhash_signatures(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_perm: int = DEFAULT_NUM_PERM,
) -> DataFrame:
    """k salted-md5 MinHash components: mh_j = min(md5(j || ':' || md5(s))).

    Each shingle (arbitrarily long) is hashed ONCE to a 32-char digest;
    the k permutations rehash only that fixed-width digest, so hash
    input bytes scale with k*32 instead of k*len(shingle). Min over hex
    strings is a total order, so each component is a valid MinHash.
    """
    hashed = "__sh_md5"
    out = df.withColumn(
        hashed, F.transform(F.col(shingle_col), lambda s: F.md5(s))
    )
    for j in range(num_perm):
        prefix = f"{j}:"
        out = out.withColumn(
            f"mh{j}",
            F.array_min(
                F.transform(
                    F.col(hashed), lambda h: F.md5(F.concat(F.lit(prefix), h))
                )
            ),
        )
    return out.drop(hashed)


def band_table(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Explode a signature frame to (id, band_id, band_key) rows.

    Per-row expressions only (no shuffle); at 100 TB this is also the
    layout of a PERSISTED LSH index table, bucketed by band_key.
    """
    n_bands = num_perm // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(
                        *[F.col(f"mh{b * band_size + r}") for r in range(band_size)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_id", "band.band_key"
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate id pairs.

    bands = num_perm / band_size; docs agreeing on ANY full band collide.
    The self-join is an equi-join on (band_id, band_key) — Catalyst
    shuffles both sides on the band key, so cost is sum of bucket^2, not
    n^2.
    """
    exploded = band_table(sig_df, id_col, num_perm, band_size)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def near_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_perm: int = DEFAULT_NUM_PERM,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification.

    Returns (doc_a, doc_b, jaccard) for candidate pairs whose exact
    shingle-set Jaccard >= threshold.
    """
    # Spread the expression-heavy signature stage across cores: a single
    # small parquet file arrives as one partition, which would serialize
    # ~num_perm * n_shingles md5 calls per doc onto one core.
    spark = df.sparkSession
    src = df.select(id_col, text_col).repartition(
        spark.sparkContext.defaultParallelism, id_col
    )
    # Persist the signature stage: it feeds both sides of the band
    # self-join AND the verification join — without a persist each
    # reference re-runs the md5-transform pipeline (4x cost).
    sh = with_shingles(src, text_col, n=shingle_n)
    sig = minhash_signatures(sh, num_perm=num_perm).persist()
    pairs = lsh_candidate_pairs(sig, id_col, num_perm, band_size)
    shing = sig.select(F.col(id_col), F.col("shingles"))
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb")))
    )
    return (
        pairs.join(
            shing.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sa")),
            "doc_a",
        )
        .join(
            shing.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sb")),
            "doc_b",
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def duplicated_ngram_coverage(
    df: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplication signal: per document, the fraction of
    word n-gram positions whose gram occurs more than once in the corpus.

    The Spark-native approximation of suffix-array substring dedup (Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): a suffix array is a global sort the cluster can't afford at
    100 TB, but fixed-n gram multiplicity finds the same long duplicated
    spans (a duplicated span of length L covers L-n+1 duplicated gram
    positions). Every gram is md5-hashed BEFORE the shuffle so exchange
    width is a fixed 32 chars regardless of gram length.

    Plan shape: one groupBy shuffle on gram hash (map-side partial agg
    over corpus tokens), one co-partitioned join back on the same key,
    one groupBy on doc id, and a final left join against the doc frame.
    Nothing is all-pairs; nothing collects. The exploded gram frame is
    spread across cores (a small parquet arrives as one partition) and
    localCheckpointed once — it feeds BOTH the count aggregation and the
    join side, and the per-token md5 pipeline is the dominant cost
    (measured 34.5s -> ~3s at sf0.1 from this alone).
    """
    words = F.split(F.col(text_col), " ")
    sz = F.size(words)
    spark = df.sparkSession
    base = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(spark.sparkContext.defaultParallelism, id_col)
        .select(
            F.col(id_col), word_ngrams(text_col, n, hashed=True).alias("__grams")
        )
    )
    grams = (
        base.select(F.col(id_col), F.explode("__grams").alias("g"))
        .localCheckpoint(eager=False)
    )
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        grams.join(counts.filter(F.col("cnt") > 1), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    n_positions = F.greatest(sz - (n - 1), F.lit(0)).cast("long")
    return (
        df.select(F.col(id_col), n_positions.alias("n_gram_positions"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_gram_positions"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_positions"),
            F.when(
                F.col("n_gram_positions") > 0,
                F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                / F.col("n_gram_positions"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash: 16-bit signature built from per-word md5 nibbles. Generated as
# a SQL string that is valid in BOTH Spark SQL and DuckDB (instr/substr/
# md5/floor are shared), so the oracle is the same computation textually.
# ---------------------------------------------------------------------------
def _bit_sum_exprs(hash_expr: str = "h", bits: int = 16) -> list[str]:
    terms = []
    for b in range(bits):
        nib = (
            f"(instr('0123456789abcdef', substr({hash_expr}, {1 + b // 4}, 1)) - 1)"
        )
        bit = f"(CAST(FLOOR({nib} / {2 ** (b % 4)}) AS INT) % 2)"
        terms.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{b}")
    return terms


def simhash_sql(explode_clause: str) -> str:
    """SimHash SQL over an exploded (doc_id, w) word stream.

    ``explode_clause`` supplies the dialect-specific word explosion:
    - Spark:  SELECT doc_id, explode(split(text, ' ')) AS w FROM documents
    - DuckDB: SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents

    Each word is md5-hashed ONCE in an inner select; the 16 bit-sum
    aggregates read substrings of that digest (16x less hashing than
    inlining md5(w) per bit — engines don't reliably CSE across
    aggregate expressions).
    """
    sums = ",\n         ".join(_bit_sum_exprs())
    packed = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(16)
    )
    return f"""
    SELECT doc_id, CAST({packed} AS INT) AS simhash
    FROM (
      SELECT doc_id,
         {sums}
      FROM (SELECT doc_id, md5(w) AS h FROM ({explode_clause}))
      GROUP BY doc_id
    )
    """


def simhash_bands_sql(
    explode_clause: str, bits: int = 64, band_bits: int = 16
) -> str:
    """Production-width SimHash as PRE-BANDED columns b0..b{n-1}.

    A 64-bit simhash (16 hex nibbles of each word's md5 drive 64
    bit-sums) emitted directly as four 16-bit band values — the layout
    the banded candidate join wants, and it sidesteps packing 64 bits
    into a signed BIGINT (bit 63 would overflow the packed sum). With
    65536 buckets per band, bucket sizes stay sparse at corpus scale —
    this is the fix for the 16-bit toy signature's O(n^2/512) candidate
    join. Same textual SQL runs on Spark and DuckDB.
    """
    n_bands = bits // band_bits
    sums = ",\n         ".join(_bit_sum_exprs(bits=bits))
    band_cols = []
    for band in range(n_bands):
        packed = " + ".join(
            f"CASE WHEN s{band * band_bits + i} > 0 THEN {2 ** i} ELSE 0 END"
            for i in range(band_bits)
        )
        band_cols.append(f"CAST({packed} AS INT) AS b{band}")
    return f"""
    SELECT doc_id, {", ".join(band_cols)}
    FROM (
      SELECT doc_id,
         {sums}
      FROM (SELECT doc_id, md5(w) AS h FROM ({explode_clause}))
      GROUP BY doc_id
    )
    """


SPARK_WORDS_CLAUSE = "SELECT doc_id, explode(split(text, ' ')) AS w FROM documents"
DUCKDB_WORDS_CLAUSE = "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"


# ---------------------------------------------------------------------------
# Near-duplicate clustering: candidate pairs -> connected components.
# The apply-step after pair mining: every doc gets the min doc_id of its
# duplicate cluster, so "keep one per cluster" is a single filter.
# ---------------------------------------------------------------------------
def _cc_local(pairs: DataFrame) -> DataFrame:
    """Exact connected components for a driver-sized edge list: Arrow
    collect, numpy min-label propagation with full pointer jumping
    between rounds (labels chase their own labels to fixpoint, so the
    outer loop converges in O(log diameter) vectorized passes, each
    O(edges)). Node ids map to their sorted rank so `min id reachable`
    is `min rank reachable` for any orderable id type — the result is
    the same (node, component) set the distributed rounds produce."""
    import numpy as np
    import pandas as pd

    spark = pairs.sparkSession
    schema = StructType(
        [
            StructField("node", pairs.schema["a"].dataType, True),
            StructField("component", pairs.schema["b"].dataType, True),
        ]
    )
    pdf = pairs.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    idx = pd.Index(
        np.sort(
            pd.unique(pd.concat([pdf["a"], pdf["b"]], ignore_index=True))
        )
    )
    a = idx.get_indexer(pdf["a"])
    b = idx.get_indexer(pdf["b"])
    s = np.concatenate([a, b])
    d = np.concatenate([b, a])
    label = np.arange(len(idx), dtype=np.int64)
    while True:
        new = label.copy()
        np.minimum.at(new, s, label[d])
        while True:  # pointer jumping: follow labels to their root
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            break
        label = new
    out = pd.DataFrame(
        {"node": idx.values, "component": idx.values[label]}
    )
    return spark.createDataFrame(out, schema)


def _edge_pairs(
    edges: DataFrame, src: str, dst: str, local_edge_limit: int
) -> tuple[DataFrame, bool]:
    """The edge list as (a, b), materialized once, and whether it fits
    the driver-local path: at most ``local_edge_limit`` edges and no
    NULL id, read from that one job (ops/observe.py)."""
    pairs, m = materialized(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        n=F.count(F.lit(1)),
        nulls=F.count_if(F.col("a").isNull() | F.col("b").isNull()),
    )
    fits = m["n"] <= local_edge_limit and not m["nulls"]
    return pairs, bool(local_edge_limit) and fits


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 1000,
    local_edge_limit: int = LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (node, component) where component = min node id reachable.
    Each iteration is one shuffle (join on node + min-agg); convergence
    needs O(component diameter) rounds, and a graph still changing
    after ``max_iter`` rounds raises instead of returning unconverged
    labels. Three scale/latency choices
    (measured together: 3.2s -> 0.6s at sf0.1):
    - init fuses round 1: labels start at min(node, min neighbour) from
      a single aggregation, no join — near-dup clusters are stars around
      a canonical doc, so most runs converge after ONE verification
      round;
    - the fixpoint check rides the materializing action itself via the
      Observation API (a metric on the same job), so each round costs
      exactly one action and no comparison join;
    - per-round frames localCheckpoint (eager): iterative lineage is
      truncated, so round N's plan doesn't re-analyze rounds 1..N-1
      (swap for reliable checkpoint(dir) on a cluster where executor
      loss must not restart the computation).
    GraphX/GraphFrames would give the same algorithm but pulls in an RDD
    API dependency for no gain at this shape.
    """
    # Driver-local or distributed, decided by ops/observe.py's gate
    # (``local_edge_limit=0`` forces distributed): label propagation
    # costs O(diameter) Spark rounds, while a driver-sized pair graph
    # resolves exactly in one numpy min-label + pointer-jumping loop
    # with the same fixpoint (the min reachable id per node is unique).
    pairs, local = _edge_pairs(edges, src, dst, local_edge_limit)
    if local:
        return _cc_local(pairs)
    # Persisted ALREADY hash-partitioned on the join key (r15, guide
    # §2.4): each round's edge⋈labels join then reuses the cached
    # partitioning instead of re-exchanging the edge list every
    # iteration. Both directions come from ONE explode of each edge
    # row — the previous self-union evaluated the upstream pair-mining
    # plan twice inside the materializing job (guide §2.4: duplicated
    # subtrees; measured 7.3s -> 5.8s on customers_entity_resolution's
    # CC stage alone). The explode now reads the checkpointed pairs,
    # so mining is evaluated exactly once regardless of path.
    both = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(
                        F.col("b").alias("a"), F.col("a").alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .repartition("b")
        .persist()
    )
    labels = (
        both.groupBy("a")
        .agg(F.min("b").alias("_nb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_nb")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            # One job per round (r15, guide §2.4 — was: neighbour-min
            # join + agg + a second LEFT join back to labels, ~5
            # exchanges): the neighbour messages UNION a tagged copy of
            # the labels themselves, and a single grouped aggregation
            # produces both the new label min(old, min neighbour label)
            # and the old label (the tagged row is the unique self row
            # per node) for the convergence metric.
            msgs = both.join(labels, both.b == labels.node).select(
                "a", "component", F.lit(False).alias("_self")
            )
            new_labels, get = observed(
                msgs.unionByName(
                    labels.select(
                        F.col("node").alias("a"),
                        "component",
                        F.lit(True).alias("_self"),
                    )
                )
                .groupBy("a")
                .agg(
                    F.min("component").alias("component"),
                    F.min(
                        F.when(F.col("_self"), F.col("component"))
                    ).alias("_old"),
                )
                .select(F.col("a").alias("node"), "component", "_old"),
                changed=F.count_if(F.col("component") != F.col("_old")),
            )
            # materializes; the metric rides this job
            labels = new_labels.drop("_old").localCheckpoint(eager=True)
            if not get()["changed"]:
                return labels
    finally:
        both.unpersist()
    raise RuntimeError(
        f"connected_components: labels still changing after {max_iter} "
        "rounds; raise max_iter above the graph's diameter"
    )


def incremental_dedup_against_index(
    index_sig: DataFrame,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_perm: int = DEFAULT_NUM_PERM,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup an incoming batch against a stored corpus signature index
    WITHOUT rescanning or shuffling the corpus.

    ``index_sig`` is the persisted output of ``minhash_signatures`` over
    the historical corpus (id, shingles, mh0..mhK — at 100 TB a table
    maintained incrementally as batches are accepted). The daily-ingest
    shape: the batch side is bounded (a day's documents), so its banded
    form and its shingles BROADCAST — both joins stream the index
    map-side, and the 100 TB corpus is never exchanged. Returns
    (new_id, corpus_id, jaccard >= threshold) collisions; anti-join the
    batch against it to admit only novel documents.
    """
    spark = batch_df.sparkSession
    batch_sig = minhash_signatures(
        with_shingles(
            batch_df.select(id_col, text_col).repartition(
                spark.sparkContext.defaultParallelism, id_col
            ),
            text_col,
            n=shingle_n,
        ),
        num_perm=num_perm,
    ).persist()
    new_bands = band_table(batch_sig, id_col, num_perm, band_size)
    idx_bands = band_table(index_sig, id_col, num_perm, band_size)
    # Broadcast is justified: the batch is bounded by ingest cadence,
    # not corpus size (contrast with the forbidden supplier/part hints).
    pairs = (
        idx_bands.alias("c")
        .join(
            F.broadcast(new_bands.alias("n")),
            (F.col("c.band_id") == F.col("n.band_id"))
            & (F.col("c.band_key") == F.col("n.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    with_sa = pairs.join(
        F.broadcast(
            batch_sig.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("sa"))
        ),
        "new_id",
    )
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb")))
    )
    # Stream the index once more for shingle fetch; the (pairs + batch
    # shingles) side stays broadcast, so again no corpus shuffle.
    return (
        index_sig.select(F.col(id_col).alias("corpus_id"), F.col("shingles").alias("sb"))
        .join(F.broadcast(with_sa), "corpus_id")
        .select("new_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _pagerank_local(pairs: DataFrame, iters: int, scale: int) -> DataFrame:
    """Driver-local twin of the distributed rounds below: identical
    integer recurrence (BIGINT div == int64 floor-div for the
    non-negative ranks), distinct directed edges, deg >= 1 nodes."""
    import numpy as np
    import pandas as pd

    spark = pairs.sparkSession
    schema = StructType(
        [
            StructField("doc_id", pairs.schema["a"].dataType, True),
            StructField("rank", LongType(), True),
        ]
    )
    pdf = pairs.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    idx = pd.Index(
        pd.unique(pd.concat([pdf["a"], pdf["b"]], ignore_index=True))
    )
    a = idx.get_indexer(pdf["a"])
    b = idx.get_indexer(pdf["b"])
    e = np.unique(
        np.concatenate(
            [np.stack([a, b], axis=1), np.stack([b, a], axis=1)]
        ),
        axis=0,
    )
    src, dst = e[:, 0], e[:, 1]
    n = len(idx)
    deg = np.bincount(src, minlength=n).astype("int64")  # >= 1 per node
    base = (15 * scale) // 100
    rank = np.full(n, scale, dtype="int64")
    for _ in range(iters):
        contrib = np.zeros(n, dtype="int64")
        np.add.at(contrib, dst, rank[src] // deg[src])
        rank = base + (85 * contrib) // 100
    out = pd.DataFrame({"doc_id": idx.values, "rank": rank})
    return spark.createDataFrame(out, schema)


def pair_graph_pagerank(
    pairs: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    local_edge_limit: int = LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected) near-dup pair
    graph — ranks the 'hub' documents of duplicate neighborhoods (the
    template/boilerplate sources other docs cluster around).

    Exactness discipline: ranks live in integer space (initial rank =
    ``scale``; damping applied as (85 * x) div 100; per-edge
    contribution rank div degree), so a fixed iteration count is
    bit-identical in any engine — no float accumulation. Per iteration:
    one edge-keyed join + one dst-keyed groupBy (map-side partial agg);
    lineage is truncated per round with localCheckpoint, same as
    connected_components. Nodes are pair members only; deg >= 1 always.
    """
    # Driver-local or distributed, the connected_components gate: the
    # BIGINT recurrence is reproduced bit-exactly by numpy int64.
    pairs, local = _edge_pairs(pairs, a_col, b_col, local_edge_limit)
    if local:
        return _pagerank_local(pairs, iters, scale)
    # Both edge directions come from ONE evaluation of the (possibly
    # expensive) pairs input via explode — a union of two selects would
    # re-run the upstream pair-mining pipeline once per branch.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst")
                    ),
                    F.struct(
                        F.col("b").alias("src"), F.col("a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    base = (15 * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("src"), "deg", "rank"), "src"
            )
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(c, 0)) div 100")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("rank"))


def pair_graph_pagerank_converged(
    pairs: DataFrame,
    tol: int | None = None,
    max_iter: int = 50,
    scale: int = 1_000_000,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> tuple[DataFrame, int]:
    """Production PageRank: same integer recurrence as
    ``pair_graph_pagerank``, but the loop stops when the largest
    per-node rank change falls to ``tol`` (default scale/10000 = 0.01%)
    instead of running a caller-guessed fixed count — graphs with small
    diameters stop early, deep chains run as long as they need.

    The rank-delta check rides the round's materializing action via the
    Observation API (the connected_components machinery): each round
    costs exactly one job, no extra comparison pass over the ranks.
    Returns ``(ranks_df, rounds_run)``. The fixed-``iters`` variant
    stays the oracle mode — a deterministic iteration count is what
    makes the result expressible as unrolled SQL CTEs.
    """
    if tol is None:
        tol = max(1, scale // 10_000)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (15 * scale) // 100
    ranks = deg.select(
        F.col("src").alias("node"), "deg", F.lit(scale).cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    rounds = 0
    for _ in range(max_iter):
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("src"), "deg", "rank"), "src"
            )
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        new_ranks, get = observed(
            ranks.join(contrib, ranks.node == contrib.dst, "left").select(
                "node",
                "deg",
                F.col("rank").alias("_old"),
                (F.lit(base) + F.expr("(85 * coalesce(c, 0)) div 100"))
                .cast("long")
                .alias("rank"),
            ),
            delta=F.max(F.abs(F.col("rank") - F.col("_old"))),
        )
        # metric rides this job
        ranks = new_ranks.drop("_old").localCheckpoint(eager=True)
        rounds += 1
        if get()["delta"] <= tol:
            break
    edges.unpersist()
    return ranks.select(F.col("node").alias("doc_id"), F.col("rank")), rounds


def block_dedup_rebuild(
    df: DataFrame,
    block_words: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (block-level) global dedup with document rebuild —
    the line/paragraph dedup stage of web-corpus curation (RefinedWeb's
    line dedup; the reference analog is whole-record dedup before push,
    marketing_cloud_data_extension_upload.sql:56).

    Documents are cut into non-overlapping ``block_words``-word blocks;
    a block survives only at its GLOBAL first occurrence (smallest
    (doc_id, block_id) over every document containing that exact
    block); each document is rebuilt from its surviving blocks in
    order. Output: one row per document with its original block count,
    surviving block count, and rebuilt text ('' when everything was a
    repeat).

    Scale shape: the winner election is one shuffle keyed on md5(block)
    (32-byte keys, never the block text); the rebuild is one shuffle on
    doc_id with sort_array over the bounded per-doc block list. No
    all-pairs stage anywhere. block_id fits in 20 bits (docs < 2^20
    blocks), so the (doc_id, block_id) winner order packs into one
    BIGINT — a single-column min, engine-portable.
    """
    from ..llmops.text import chunk_documents

    blocks = chunk_documents(
        df.select(id_col, text_col),
        chunk_words=block_words,
        stride=block_words,
        text_col=text_col,
        id_col=id_col,
    ).select(
        id_col,
        F.col("chunk_id").alias("block_id"),
        F.col("chunk_text").alias("block_text"),
        F.md5(F.col("chunk_text")).alias("block_hash"),
        (
            F.col(id_col) * F.lit(1 << 20)
            # Loud failure instead of silent winner corruption if a
            # document ever exceeds 2^20 blocks (the packing bound).
            + F.when(F.col("chunk_id") < F.lit(1 << 20), F.col("chunk_id")).otherwise(
                F.raise_error(
                    F.lit("block_dedup_rebuild: document exceeds 2^20 blocks")
                ).cast("int")
            )
        ).alias("pos_key"),
    )
    winners = blocks.groupBy("block_hash").agg(F.min("pos_key").alias("win_key"))
    kept = blocks.join(winners, "block_hash").filter(
        F.col("pos_key") == F.col("win_key")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("block_id", "block_text"))
                ),
                lambda s: s["block_text"],
            ),
            " ",
        ).alias("rebuilt_text"),
    )
    totals = blocks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_blocks"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("n_blocks").cast("long").alias("n_blocks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("rebuilt_text"), F.lit("")).alias("rebuilt_text"),
        )
    )


def boilerplate_block_removal(
    df: DataFrame,
    block_words: int = 16,
    max_doc_freq: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate removal: drop EVERY occurrence of a block
    that appears in more than ``max_doc_freq`` distinct documents.

    This is the web-curation stage that strips headers, navigation,
    cookie banners and license boilerplate — content that repeats
    across many pages. It is deliberately different from
    block_dedup_rebuild: first-occurrence dedup KEEPS one copy of a
    repeated block (it might be legitimate content), boilerplate
    removal keeps NONE (above the document-frequency threshold the
    block is template chrome, not content).

    Scale shape: one shuffle keyed on md5(block) computing distinct-doc
    frequency (approx_count_distinct is the swap-in at extreme
    cardinality; exact here for the oracle), one broadcast-or-shuffle
    semi-join back, one doc_id shuffle for the rebuild. No all-pairs
    stage; the frequency table is block-vocabulary-sized.
    """
    from ..llmops.text import chunk_documents

    blocks = chunk_documents(
        df.select(id_col, text_col),
        chunk_words=block_words,
        stride=block_words,
        text_col=text_col,
        id_col=id_col,
    ).select(
        id_col,
        F.col("chunk_id").alias("block_id"),
        F.col("chunk_text").alias("block_text"),
        F.md5(F.col("chunk_text")).alias("block_hash"),
    )
    freq = blocks.groupBy("block_hash").agg(
        F.countDistinct(id_col).alias("doc_freq")
    )
    kept = blocks.join(freq, "block_hash").filter(
        F.col("doc_freq") <= max_doc_freq
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_id", "block_text"))),
                lambda s: s["block_text"],
            ),
            " ",
        ).alias("rebuilt_text"),
    )
    totals = blocks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_blocks"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("rebuilt_text"), F.lit("")).alias("rebuilt_text"),
    )


def bloom_gated_new_rows(
    batch: DataFrame,
    corpus_keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Incremental-dedup gate: rows of ``batch`` whose ``key_col`` is
    NOT in ``corpus_keys``, decided bloom-first.

    The Bloom filter (ops/sketches.py) splits the batch map-side:
    definitely-new rows (filter says absent — no false negatives) pass
    straight through WITHOUT ever joining the corpus; only the
    maybe-present slice (true dups + the ~0.1% false positives) pays
    the exact anti-join. Semantics are EXACTLY the plain anti-join —
    the filter only routes — so the operator keeps an exact oracle
    while the corpus-sized join input shrinks from |batch| to
    |dups + FP|. At 100 TB this is the difference between shuffling
    every ingest batch against the corpus index and shuffling only the
    suspected duplicates.
    """
    from ..ops.sketches import bloom_build, bloom_probe

    # NULL keys: a plain anti-join KEEPS a NULL-key row (NULL matches
    # nothing in the corpus), but an equi-join on the verdicts frame
    # would silently drop it — route NULL keys straight to the output.
    null_rows = batch.filter(F.col(key_col).isNull())
    nn = batch.filter(F.col(key_col).isNotNull())
    bloom = bloom_build(corpus_keys, key_col)
    verdicts = bloom_probe(bloom, nn.select(key_col).distinct(), key_col)
    routed = nn.join(verdicts, key_col, "left")
    definitely_new = routed.filter(~F.col("maybe_present")).drop("maybe_present")
    suspected = routed.filter(F.col("maybe_present")).drop("maybe_present")
    survivors = suspected.join(corpus_keys, key_col, "left_anti")
    return definitely_new.unionByName(survivors).unionByName(null_rows)


def cdc_chunk_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    base: int = 131,
    mask: int = 64,
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family): cut after
    every position whose ``window``-char polynomial rolling hash is
    divisible by ``mask`` (expected chunk length = mask chars).
    Because boundaries depend only on local CONTENT, a run of text
    shared by two documents chunks identically in both regardless of
    its byte offset — the property fixed-size blocking lacks and the
    reason storage dedup uses CDC.

    All-integer, engine-portable arithmetic: H(i) = sum of
    (ascii(char) % 256) * base^k over the window — codes clamp to one
    byte because ascii() returns the full Unicode CODEPOINT (up to
    1,114,111) for non-ASCII chars, which would overflow BIGINT in the
    high-power terms (Spark wraps silently, DuckDB raises — ADVICE r7
    #5); clamped, 255 * 131^7 * 8 < 2^63 holds for any input and a SQL
    oracle reproduces boundaries bit-for-bit. Everything is map-side array math inside whole-stage
    codegen (sequence -> filter -> zip_with -> explode): O(window) per
    character, zero shuffles, zero Python.

    Returns one row per chunk: (id, chunk_start 0-based, chunk).
    Documents shorter than ``window`` yield one whole-doc chunk.
    """
    n = F.char_length(F.col(text_col))

    # Per-position char access must be O(1): substr(text, i, 1) is an
    # O(i) UTF-8 scan, which makes the position sweep O(n^2) per doc
    # (measured ~12s at sf0.1; ~3s with the codes array). The ascii
    # codes bind as LAMBDA VARIABLES (transform over a one-element
    # array — the word_ngrams trick) so CollapseProject can never
    # inline the split back into the 8 per-position references.
    codes = F.transform(
        F.split(F.col(text_col), ""), lambda c: F.pmod(F.ascii(c), F.lit(256))
    )

    def rolling_hash(cv, i):
        h = None
        for k in range(window):
            term = F.element_at(cv, i - F.lit(window - 1 - k)).cast(
                "bigint"
            ) * F.lit(base ** (window - 1 - k))
            h = term if h is None else h + term
        return h

    def spans_of(cv):
        cuts = F.when(
            n >= window,
            F.filter(
                F.sequence(F.lit(window), n),
                lambda i: rolling_hash(cv, i) % mask == 0,
            ),
        ).otherwise(F.expr("array()").cast("array<int>"))
        # bind the cut array once too: it feeds both starts and ends
        return F.element_at(
            F.transform(
                F.array(cuts),
                lambda cutsv: F.zip_with(
                    F.concat(F.array(F.lit(0)), cutsv),
                    F.concat(cutsv, F.array(n)),
                    lambda s, e: F.struct(s.alias("s"), e.alias("e")),
                ),
            ),
            1,
        )

    spans = F.element_at(F.transform(F.array(codes), spans_of), 1)
    return (
        df.select(F.col(id_col), F.col(text_col), spans.alias("_spans"))
        .select(
            id_col,
            F.explode(
                F.filter(F.col("_spans"), lambda p: p["e"] > p["s"])
            ).alias("_span"),
            F.col(text_col),
        )
        .select(
            id_col,
            F.col("_span.s").alias("chunk_start"),
            F.expr(
                f"substr({text_col}, _span.s + 1, _span.e - _span.s)"
            ).alias("chunk"),
        )
    )


def cdc_duplicate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **chunk_opts,
) -> DataFrame:
    """Chunk-level dedup over CDC chunks: which content chunks recur,
    how often, and across how many documents. The group-by carries
    (md5, length) — never the chunk text — so the shuffle is O(32
    bytes/chunk) at any corpus size.

    Returns (chunk_hash, chunk_len, n_occur, n_docs), n_occur > 1.
    """
    chunks = cdc_chunk_spans(df, text_col, id_col, **chunk_opts)
    return (
        chunks.select(
            F.md5(F.col("chunk")).alias("chunk_hash"),
            F.char_length(F.col("chunk")).alias("chunk_len"),
            F.col(id_col),
        )
        .groupBy("chunk_hash", "chunk_len")
        .agg(
            F.count(F.lit(1)).alias("n_occur"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
        )
        .filter(F.col("n_occur") > 1)
    )


def cdc_chunk_containment(
    df: DataFrame,
    min_chunks: int = 3,
    min_containment_pct: int = 80,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chunk_df: int | None = None,
    **chunk_opts,
) -> DataFrame:
    """Containment detection over CDC chunks: ordered pairs (a, b)
    where at least ``min_containment_pct``% of a's DISTINCT chunks also
    occur in b — catching documents quoted or embedded inside other
    documents, which symmetric near-dup measures (Jaccard over the
    union) score low precisely when the containing doc is large.
    Broder's containment coefficient |A ∩ B| / |A| computed exactly,
    with CDC chunks as the feature set so embedded runs align at any
    offset.

    Scale shape: the pair join is keyed by chunk HASH (only docs
    sharing a chunk ever meet — the same blocking posture as the LSH
    band join), counts ride (a, b) id pairs, and the per-doc distinct
    chunk counts broadcast back via a keyed join. The (id, hash) chunk
    frame is persisted once (40 bytes/chunk, spillable) — it feeds the
    block join twice plus the denominator count, and recomputing the
    CDC chunking expression three times dominated the r9 rehearsal.

    ``max_chunk_df`` (r9, the 100 TB knob): a chunk present in more
    than this many documents is BOILERPLATE — its block contributes
    O(df^2) pairs, and the r9 sf1 rehearsal measured exactly that
    (one 825-doc block grew to 7074 docs at 10x data, turning the
    linear-by-design join 13.6x superlinear). With the cap, such
    chunks are excluded from both the numerator blocks AND each doc's
    denominator (containment is then "over non-ubiquitous chunks" —
    Broder's coefficient on the informative feature set), bounding
    every block at max_chunk_df and the total pair work at
    O(n_chunks * max_chunk_df). None preserves the exact unfiltered
    semantics.

    Output: (a, b, n_common, n_chunks_a, containment_pct), a != b,
    containment_pct = 100 * n_common // n_chunks_a (integer floor).
    """
    from pyspark import StorageLevel

    # Persist BEFORE the df-cap join so the expensive chunking
    # expression runs once; the cap filter and every consumer below
    # read the persisted (id, hash) frame. The cache is released
    # before returning (ADVICE r9): the result is eagerly
    # checkpointed below, so repeated calls in a long-lived session
    # don't accumulate cached chunk partitions.
    cached = (
        cdc_chunk_spans(df, text_col, id_col, **chunk_opts)
        .select(F.col(id_col), F.md5(F.col("chunk")).alias("h"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunks = cached
    if max_chunk_df is not None:
        dfreq = chunks.groupBy("h").agg(
            F.count(F.lit(1)).alias("_df")
        )
        chunks = (
            chunks.join(
                dfreq.filter(F.col("_df") <= max_chunk_df), "h"
            ).drop("_df")
        )
    counts = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    a = chunks.select(F.col(id_col).alias("a"), "h")
    b = chunks.select(F.col(id_col).alias("b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    result = (
        common.join(
            counts.select(
                F.col(id_col).alias("a"), F.col("n_chunks").alias("n_chunks_a")
            ),
            "a",
        )
        .filter(F.col("n_chunks_a") >= min_chunks)
        .withColumn(
            "containment_pct",
            F.expr("100 * n_common div n_chunks_a"),
        )
        .filter(F.col("containment_pct") >= min_containment_pct)
        .select("a", "b", "n_common", "n_chunks_a", "containment_pct")
        # eager: the filtered pair set (orders of magnitude smaller
        # than the chunk frame) materializes once, severing lineage so
        # the chunk cache can be released immediately
        .localCheckpoint(eager=True)
    )
    cached.unpersist()
    return result
