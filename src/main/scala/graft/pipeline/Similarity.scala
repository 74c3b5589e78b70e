package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `ARRAY<FLOAT>` embedding column.
  *
  * Baseline: brute-force cosine — a broadcast of the (small) query set
  * against a full scan of the corpus; the dot product is a codegen'd
  * `zip_with`+`aggregate` expression, so a 1000-executor cluster scans
  * embeddings at parquet speed with NO shuffle (top-k is a
  * TakeOrderedAndProject).
  *
  * Scale path: IVF-style partition pruning — assign each vector to its
  * nearest centroid once (k-means-lite, driver-seeded centroids), store
  * `centroid_id` as a partition column; queries probe only the closest
  * `nprobe` centroid partitions, cutting the scan by k/nprobe. LSH bucketing
  * (random hyperplane signs) is the shuffle-free alternative for pair mining.
  */
object Similarity {

  /** Dot product of two array columns; elements widened to double BEFORE
    * multiplying so float inputs don't lose precision mid-product. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (null-safe: 0 norm -> null). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b); val na = norm(a); val nb = norm(b)
    when(na === 0 || nb === 0, lit(null).cast("double")).otherwise(d / (na * nb))
  }

  /** ENGINE-EXACT dot product on the integer grid: each per-element
    * product lands on the 1e-12 floor grid (one deterministic IEEE
    * multiply chain per element — float32→double casts are exact, and
    * multiply/floor are correctly rounded) and sums as int64, so the
    * FOLD ORDER cannot move an ulp. Any engine replaying the same
    * per-element expression produces the bit-identical integer. Grid
    * headroom: 64 products ≤ ~1e11 each keeps the sum < 2^53 ≪ Long
    * range. Backed by the native codegen'd
    * [[graft.functions.QuantizedDotProduct]] (the interpreted
    * `aggregate(zip_with(...))` formulation is semantically identical
    * but its per-pass analysis + compile cost alone regressed the
    * near-dup bench ~60%). */
  def dotQuantized(a: Column, b: Column): Column =
    graft.functions.QuantizedDotProduct.quantDot(a, b)

  /** Cosine over [[dotQuantized]] ints: the final sqrt/divide are single
    * IEEE correctly-rounded ops over exact integers, so the DOUBLE
    * output is bit-identical across engines — the r13 similarity kernel
    * for oracle-gated queries (`exactGrid = true` on the pipeline
    * operators). Production defaults keep the codegen'd
    * [[graft.functions.FloatDotProduct]] with precomputed norms; this
    * form trades three interpreted dots per pair for cross-engine
    * exactness. Null-safe: non-positive self-dots → null. Self-dots are
    * range-guarded ([[guardSelfDot]]) so grid overflow fails loudly
    * instead of silently wrapping. */
  def cosineQuantized(a: Column, b: Column): Column = {
    val d = dotQuantized(a, b).cast("double")
    val na = guardSelfDot(dotQuantized(a, a))
    val nb = guardSelfDot(dotQuantized(b, b))
    when(na <= 0 || nb <= 0, lit(null).cast("double"))
      .otherwise(d / sqrt(na.cast("double") * nb.cast("double")))
  }

  /** Grid self-dots above this bound risk int64 wrap in the CROSS dot
    * (per-element |x·y| ≤ max self product by Cauchy-Schwarz, so in-range
    * self-dots imply an in-range cross-dot): 64 × 300² × 1e12. Inputs
    * with |element| ≳ 300 are out of the grid's contract — embeddings
    * sit at O(1). */
  private val maxSelfDotQ = 5760000000000000000L

  /** Loud range guard on a quantized self-dot: a wrapped int64 sum lands
    * negative or absurdly large, and either engine silently diverging is
    * exactly what the grid kernel exists to prevent — fail instead.
    * (A wrap landing back inside the window needs a ~2^64 coincidence;
    * this is a sanity guard, not cryptography.) */
  private def guardSelfDot(nq: Column): Column =
    when(assert_true(nq >= lit(0L) && nq <= lit(maxSelfDotQ),
      lit("quantized self-dot out of range — vector magnitudes exceed " +
        "the 1e-12 grid's int64 headroom (|element| must stay ≲ 300)")).isNull, nq)

  /** Per-ROW half of the recall-safe prefilter slack — an upper bound on
    * |grid cosine − float cosine| for any pair the row participates in.
    * Derivation: each per-element product lands within 0.5e-12 of its
    * true value, so the pair dot deviates by ≤ 0.5e-12·n absolute and
    * each squared norm likewise; propagated through the quotient
    * (|cos| ≤ 1) the pair bound is
    * 1e-12·n·(1/(na·nb) + 1/na² + 1/nb²), and AM-GM
    * (1/(na·nb) ≤ (1/na² + 1/nb²)/2) loosens it to
    * rowSlack(a) + rowSlack(b) with rowSlack = 1.5e-12·n/nrm² — so ALL
    * the division work hoists to one column per row, leaving a single
    * addition per CANDIDATE pair in the prefilter's hot loop (callers
    * add a further 1e-9 for the float kernel's own accumulation error).
    * Collapses to ~1e-10 for unit-norm embeddings but grows correctly
    * for small-magnitude vectors — a FIXED slack is not recall-safe
    * there (r13 review finding: elements ~1e-4 push the grid-vs-float
    * gap past 1e-5). */
  private def rowSlack(n: Column, nrm: Column): Column =
    lit(1.5e-12) * n.cast("double") / (nrm * nrm)

  /** Brute-force top-k: for each query row (small frame), the k most cosine-
    * similar corpus rows. Query side is broadcast; ties break on corpus id
    * for determinism. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, exactGrid: Boolean = false): DataFrame = {
    // exactGrid: every pair needs its cosine (ranking), so no prefilter —
    // but the quantized SELF-dots ride each side's rows from before the
    // join, leaving one interpreted dot per pair instead of three
    val joined =
      if (exactGrid)
        corpus.withColumn("__cq0", dotQuantized(col(corpusVec), col(corpusVec)))
          .withColumn("__cq", guardSelfDot(col("__cq0"))).drop("__cq0")
          .crossJoin(broadcast(
            queries.withColumn("__qq0", dotQuantized(col(queryVec), col(queryVec)))
              .withColumn("__qq", guardSelfDot(col("__qq0"))).drop("__qq0")))
          .withColumn("cosine",
            when(col("__cq") <= 0 || col("__qq") <= 0, lit(null).cast("double"))
              .otherwise(dotQuantized(col(corpusVec), col(queryVec)).cast("double") /
                sqrt(col("__cq").cast("double") * col("__qq").cast("double"))))
      else corpus.crossJoin(broadcast(queries))
        .withColumn("cosine", cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** Random-hyperplane LSH signature (`nbits` sign bits packed in a long):
    * cosine-preserving bucketing for near-neighbour pair mining without the
    * quadratic join. Hyperplanes are deterministic from `seed`. */
  /** Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    * cosine >= threshold. This is the exhaustive baseline (a blocked
    * cross-join over pre-normalised vectors); at corpus scale bucket first
    * with [[hyperplaneSignature]] (sign-LSH) or [[ivfTopK]]'s centroid
    * assignment and run this form bucket-locally — the verification step is
    * identical. Norms are precomputed once; the pair kernel is a single
    * interpreted dot product per surviving pair. */
  def cosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    import graft.functions.FloatDotProduct.floatDot
    val normed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", sqrt(floatDot(col("v"), col("v"))))
    val a = normed.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = normed.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", floatDot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** EXACT cosine epsilon self-join via staggered-grid bucketing — the
    * bucketed near-duplicate path with GUARANTEED recall 1 (not
    * probabilistic LSH).
    *
    * Math: for unit vectors, cos(a,b) >= t  <=>  ||â-b̂|| <= sqrt(2-2t) =
    * eps, and for any unit direction u, |u·â - u·b̂| <= ||â-b̂||
    * (Cauchy-Schwarz). So bucket each vector by k_i = floor((u_i·v̂)/eps)
    * on `nProj` deterministic directions and replicate it into the 2^nProj
    * staggered cells {k_i, k_i+1}: any pair within eps shares at least one
    * cell (floor cells of points <= eps apart differ by at most 1, so the
    * {k, k+1} ranges always intersect). Pairs are mined INSIDE cells only —
    * the join shuffles on the cell key and never crosses buckets — and the
    * verify step is the same exact cosine filter as the exhaustive form, so
    * the output EQUALS [[cosineNearDuplicates]] on any input.
    *
    * Scale: candidate volume shrinks by ~(2/eps) per direction vs
    * all-pairs (t=0.99 -> eps=0.14 -> ~14 cells/dir over the [-1,1]
    * projection range); the 2^nProj replication is the price, so 2-3
    * directions is the sweet spot. Vectors ride the explode here; at
    * extreme scale ship (id, cell) pairs and re-join payloads by id. */
  def gridNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, dim: Int, nProj: Int = 2,
                         seed: Int = 7, exactGrid: Boolean = false): DataFrame = {
    import graft.functions.FloatDotProduct.floatDot
    require(threshold > -1.0 && threshold < 1.0, s"bad threshold $threshold")
    // EXACT-COLLAPSE front (the text pipeline's design #19 applied to
    // vectors): byte-identical embeddings collapse to ONE grid participant
    // per class, because web-scale corpora duplicate heavily and k copies
    // of a point otherwise put k²/2 verify pairs in its cell. The ε-join
    // runs over class representatives; member pairs are then GENERATED,
    // not joined — within a class every pair shares the class vector's
    // self-cosine, across classes every pair shares the representative
    // cosine (identical vectors), so the output EQUALS the uncollapsed
    // form row-for-row. A ×100-duplicated rehearsal corpus ran ×1000
    // without this front; with it the join cost is duplication-invariant
    // (the emitted pair list itself is the only quadratic-in-k term).
    val normed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(floatDot(col("v"), col("v"))))
    val classes = normed.groupBy(col("v"), col("nrm"))
      .agg(sort_array(collect_list(col("id"))).as("ms"))
      .withColumn("rep", element_at(col("ms"), 1))
    // exactGrid trades the precomputed-norm float kernel for the
    // cross-engine-exact [[cosineQuantized]]: pair MEMBERSHIP is
    // unchanged for any threshold with > ~1e-12 relative margin (the
    // grid cosine differs from the true cosine by at most one 1e-12
    // grid step per element), and the emitted cosine becomes
    // bit-identical in any engine replaying the grid expression
    val selfCos =
      if (exactGrid) cosineQuantized(col("v"), col("v"))
      else floatDot(col("v"), col("v")) / (col("nrm") * col("nrm"))
    val within = classes.filter(size(col("ms")) >= 2)
      .withColumn("cosine", selfCos)
      .withColumn("id_a", explode(col("ms")))
      .withColumn("id_b", explode(col("ms")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("cosine"))
    val repPairs = gridPairs(
      classes.select(col("rep").as("id"), col("v"), col("nrm")),
      threshold, dim, nProj, seed, exactGrid)
    val cross = repPairs
      .join(classes.select(col("rep").as("id_a"), col("ms").as("_ma")), "id_a")
      .join(classes.select(col("rep").as("id_b"), col("ms").as("_mb")), "id_b")
      .withColumn("a", explode(col("_ma")))
      .withColumn("b", explode(col("_mb")))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("cosine"))
    within.unionByName(cross)
  }

  /** The staggered-grid ε-join core over a deduplicated (id, v, nrm)
    * frame — see [[gridNearDuplicates]] for the recall-1 argument. */
  private def gridPairs(normed: DataFrame, threshold: Double, dim: Int,
                        nProj: Int, seed: Int, exactGrid: Boolean): DataFrame = {
    import graft.functions.FloatDotProduct.floatDot
    val eps = math.sqrt(2.0 - 2.0 * threshold)
    val rnd = new scala.util.Random(seed)
    val dirs: Seq[Array[Double]] = Seq.fill(nProj) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cellPerDir: Seq[Column] = dirs.map { u =>
      floor(aggregate(zip_with(col("v"), lit(u),
        (x, w) => x.cast("double") * w), lit(0.0), (acc, x) => acc + x)
        / col("nrm") / lit(eps)).cast("long")
    }
    val replicas: Seq[Column] = (0 until (1 << nProj)).map { mask =>
      struct(cellPerDir.zipWithIndex.map { case (c, i) =>
        (if ((mask & (1 << i)) != 0) c + 1 else c).as(s"c$i")
      }: _*)
    }
    // the raw dot is STAGED into its own column before the guard wraps
    // it: guardSelfDot references its input three times, and inlining a
    // higher-order aggregate tree three times triples interpreted eval
    // and bloats the plan (CollapseProject keeps non-cheap multi-
    // referenced aliases staged, so this sticks)
    val withNq = if (exactGrid)
      normed.withColumn("__nq0", dotQuantized(col("v"), col("v")))
        .withColumn("nq", guardSelfDot(col("__nq0"))).drop("__nq0")
        .withColumn("slk", rowSlack(size(col("v")), col("nrm")))
    else normed
    val bucketed = withNq.withColumn("cell", explode(array(replicas: _*)))
    val nqa = if (exactGrid) Seq(col("nq").as("nqa"), col("slk").as("slka")) else Nil
    val nqb = if (exactGrid) Seq(col("nq").as("nqb"), col("slk").as("slkb")) else Nil
    val a = bucketed.select(Seq(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na")) ++ nqa: _*)
    val b = bucketed.select(Seq(col("cell"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb")) ++ nqb: _*)
    val floatCos = floatDot(col("va"), col("vb")) / (col("na") * col("nb"))
    val joined = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
    val scored =
      if (!exactGrid)
        joined.select(col("id_a"), col("id_b"), floatCos.as("cosine"))
      else
        // r13 perf lesson: the interpreted grid kernel (3 higher-order
        // dots) per CANDIDATE pair was ~100× slower than the codegen'd
        // float path at sf0.1. So: (1) the codegen'd float kernel
        // prefilters at a RECALL-SAFE loosened threshold (rowSlack — a
        // magnitude-aware bound on the grid-vs-float gap), (2) quantized
        // self-dots ride each row from before the join (nqa/nqb), (3)
        // the one remaining interpreted dot runs only on survivors, and
        // the exact grid value decides membership
        joined.filter(floatCos >=
            lit(threshold - 1e-9) - col("slka") - col("slkb"))
          .select(col("id_a"), col("id_b"),
            (dotQuantized(col("va"), col("vb")).cast("double") /
              sqrt(col("nqa").cast("double") * col("nqb").cast("double")))
              .as("cosine"))
    scored.filter(col("cosine") >= threshold)
      .distinct() // a pair may co-occur in up to 2^nProj cells
  }

  def hyperplaneSignature(vec: Column, dim: Int, nbits: Int = 16, seed: Int = 42): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(nbits)(Array.fill(dim)(rnd.nextGaussian()))
    planes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(
        zip_with(vec, lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) approximate top-k: quantize the corpus onto
    * centroids, probe only the `nprobe` centroid cells nearest the query,
    * brute-force cosine inside the probed cells. This is the 100 TB path:
    * the corpus is scanned once to build assignments (or stored partitioned
    * by `centroid`), and each query touches ~nprobe/k of the data.
    *
    * Centroids here are the per-`labelCol` dimension means (a k-means-lite
    * with data-provided classes); swap in trained centroids by passing any
    * (label, cvec) frame. Ties break on (distance, label) and
    * (cosine desc, id) for determinism.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
              queryVec: DataFrame, k: Int, nprobe: Int,
              exactGrid: Boolean = false): DataFrame = {
    // centroids: per-label dimension means as ARRAY<DOUBLE>
    val cent = corpus
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))
    def dist2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))), lit(0.0), (acc, v) => acc + v)
    // probe the nprobe nearest centroids to the query
    val probed = cent.crossJoin(broadcast(queryVec))
      .withColumn("qd2", dist2(col("cvec"), col("qvec")))
      .orderBy(col("qd2"), col("label"))
      .limit(nprobe)
      .select(col("label"))
    // quantize the corpus: pack ALL centroids into one array-of-structs row,
    // broadcast it onto every corpus row, and take the per-row arg-min via
    // array_min over (d2, label) structs — a pure projection: NO shuffle,
    // NO per-id window, no driver collect (at scale the assignment is
    // precomputed and stored as a partition column).
    val centPacked = cent.agg(collect_list(struct(col("label"), col("cvec"))).as("cents"))
    val assigned = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centPacked))
      .withColumn("label",
        array_min(transform(col("cents"),
          c => struct(dist2(col(vecCol), c.getField("cvec")).as("d2"),
            c.getField("label").as("label")))).getField("label"))
      .select(col(idCol), col(vecCol), col("label"))
    // search only the probed cells; global top-k via orderBy+limit
    // (TakeOrderedAndProject: partition-local heaps + driver merge of k),
    // never a global single-partition Window. The rank window below runs
    // AFTER the limit, over exactly k rows.
    val base = assigned.join(broadcast(probed), "label")
    val topk = (if (exactGrid)
      base.withColumn("__cq0", dotQuantized(col(vecCol), col(vecCol)))
        .withColumn("__cq", guardSelfDot(col("__cq0"))).drop("__cq0")
        .crossJoin(broadcast(
          queryVec.withColumn("__qq0", dotQuantized(col("qvec"), col("qvec")))
            .withColumn("__qq", guardSelfDot(col("__qq0"))).drop("__qq0")))
        .withColumn("cosine",
          when(col("__cq") <= 0 || col("__qq") <= 0, lit(null).cast("double"))
            .otherwise(dotQuantized(col(vecCol), col("qvec")).cast("double") /
              sqrt(col("__cq").cast("double") * col("__qq").cast("double"))))
    else base.crossJoin(broadcast(queryVec))
      .withColumn("cosine", cosine(col(vecCol), col("qvec"))))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
    val wRank = Window.orderBy(col("cosine").desc, col(idCol))
    topk.withColumn("rank", row_number().over(wRank))
      .select(col("rank"), col(idCol), col("label"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup (pairwise-cosine prune inside
    * precomputed embedding clusters): a pair with cosine ≥ `threshold`
    * marks the HIGHER id a duplicate, so a doc is kept iff no lower-id
    * in-cluster neighbor clears the threshold — greedy min-id exemplars,
    * fully deterministic. Returns (id, cluster, n_near, kept).
    *
    * The cluster assignment arrives as a COLUMN, not a model: at corpus
    * scale the k-means step is a precomputed stored field (the
    * [[nearestCentroid]] / [[ivfTopK]] assignment projection emits one),
    * and the dedup pass itself is cluster-local — pairs generate behind
    * one shuffle keyed on the cluster id, never an all-pairs product, so
    * cost is Σ|cluster|², the quantity the clustering step exists to
    * bound.
    *
    * Skew guard (triangle salting): clustering bounds the TYPICAL cluster,
    * but every real corpus has a degenerate one (the all-zero-embedding
    * junk cluster), and Σ|cluster|² behind a single shuffle key turns it
    * into one O(k²) straggler task. Clusters larger than `clusterCap` are
    * hash-sub-sharded into s = ceil(|c|/cap) shards; each row replicates to
    * the s sorted shard-pairs containing its shard, the pair join keys on
    * (cluster, shard-pair), and a post-join filter keeps each pair exactly
    * once (same-shard pairs only under their diagonal key). All pairs are
    * still verified — output is IDENTICAL to the unsalted form — but the
    * hottest task now holds ~2·cap rows / cap² candidates instead of k².
    * Cluster sizes come from a one-row-per-cluster count joined back onto
    * the corpus (AQE picks broadcast when the cluster count is small; a
    * forced hint would blow the driver on fine-grained clusterings).
    *
    * The per-pair kernel is the codegen'd [[graft.functions.FloatDotProduct]]
    * with norms precomputed ONCE per row before replication — same pattern
    * as [[cosineNearDuplicates]]/[[gridNearDuplicates]]/[[ivfTopK]]; the
    * ordered double accumulation makes it bit-identical to the interpreted
    * `aggregate(zip_with(...))` form it replaced. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, threshold: Double,
                    clusterCap: Int = 10000): DataFrame = {
    import graft.functions.FloatDotProduct.floatDot
    require(clusterCap >= 2, s"clusterCap must be >= 2, got $clusterCap")
    val base = df.select(col(idCol).as("id"), col(clusterCol).as("cluster"),
      col(vecCol).as("v"))
    val normed = base.withColumn("nrm", sqrt(floatDot(col("v"), col("v"))))
    val sizes = normed.groupBy(col("cluster"))
      .agg(ceil(count(lit(1)).cast("double") / clusterCap).cast("int").as("nshard"))
    val sharded = normed.join(sizes, Seq("cluster"))
      .withColumn("shard", pmod(xxhash64(col("id")), col("nshard")).cast("int"))
      .withColumn("other", explode(sequence(lit(0), col("nshard") - 1)))
      .withColumn("kp", struct(least(col("shard"), col("other")).as("p"),
        greatest(col("shard"), col("other")).as("q")))
    val l = sharded.select(col("cluster"), col("kp"), col("shard").as("sa"),
      col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val r = sharded.select(col("cluster"), col("kp"), col("shard").as("sb"),
      col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val near = l.join(r, Seq("cluster", "kp"))
      .filter(col("id_a") < col("id_b"))
      // same-shard pairs co-occur under every key containing their shard;
      // keep them only under the diagonal (i,i) key. Cross-shard pairs
      // co-occur under exactly one key, so they pass unconditionally.
      .filter(col("sa") =!= col("sb") ||
        (col("kp.p") === col("sa") && col("kp.q") === col("sa")))
      // zero-norm guard keeps the null-cosine drop semantics of cosine()
      .filter(col("na") > 0 && col("nb") > 0 &&
        floatDot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(count(lit(1)).as("n_near"))
    base.join(near, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("n_near").isNull, 1).otherwise(0).as("kept"))
  }

  /** Assign each vector to the nearest of `centroids` (broadcast list) —
    * the IVF coarse quantizer. Returns centroid index (int). */
  def nearestCentroid(vec: Column, centroids: Seq[Array[Double]]): Column = {
    val dists = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(vec, lit(c), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v).as("dist"),
        lit(i).as("idx"))
    }
    array_min(array(dists: _*)).getField("idx")
  }

  /** Lloyd k-means over the embedding column, run for a FIXED iteration
    * count with deterministic seeding (the k lowest-id vectors, labeled
    * 0..k−1 in id order) and ALL arithmetic in integer micro-units:
    * components quantize to round(x·1e6) once, squared distances are
    * exact int64 sums, and centroid updates round(Σ/n) back onto the
    * 1e-6 grid — so the whole trajectory is order-free, partitioning-
    * invariant, and replayable bit-for-bit by an external engine (the
    * oracle unrolls the same iterations in SQL).
    *
    * 100 TB shape (the classic scalable Lloyd): per iteration the k
    * centroids collect to the driver (k·dim values — bounded, the
    * documented driver-side small-matrix pattern) and re-enter the plan
    * as a broadcast array literal, so ASSIGNMENT is a per-row HOF argmin
    * over that literal — a narrow shuffle-free map over the corpus — and
    * the UPDATE is one (label, pos) hash-agg with map-side partials.
    * Per-iteration localCheckpoint is unnecessary: each iteration's plan
    * starts from the literal, not the previous plan. Empty clusters drop
    * (no re-seeding). Ties in the argmin break toward the lowest label
    * (struct ordering). Returns (id, label, d2_u) — the final assignment
    * and its exact squared distance in micro-unit² space. */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"kmeansLloyd: bad k=$k / iters=$iters")
    val base = df.select(col(idCol).as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1e6 + lit(0.5))).as("vq"))
      .localCheckpoint(false) // scanned iters+1 times; stops re-derivation
    var cents: Array[(Int, Array[Long])] = base.orderBy(col("id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1).toArray) }
    def assign(): DataFrame = {
      val centLit = array(cents.map { case (l, c) =>
        struct(lit(l).as("label"), typedLit(c.toSeq).as("cq")) }: _*)
      base.withColumn("_a", array_min(transform(centLit, c =>
          struct(
            aggregate(zip_with(col("vq"), c.getField("cq"),
              (a, b) => (a - b) * (a - b)), lit(0L), (s, v) => s + v).as("d2"),
            c.getField("label").as("label")))))
        .select(col("id"), col("vq"),
          col("_a.label").as("label"), col("_a.d2").as("d2_u"))
    }
    for (_ <- 1 to iters) {
      val upd = assign()
        .select(col("label"), posexplode(col("vq")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .select(col("label"), col("pos"),
          round(col("s").cast("double") / col("c")).cast("long").as("cv"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("o"))
        .select(col("label"), expr("transform(o, x -> x.cv)").as("cq"))
        .collect()
      cents = upd.map(r => (r.getInt(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    }
    assign().select(col("id"), col("label"), col("d2_u"))
  }

  /** Product quantisation with asymmetric-distance (ADC) scoring — the
    * IVF-PQ memory-scale path: each vector is split into `m` subvectors,
    * each encoded as the index of its nearest codeword (codebook =
    * the k lowest-id vectors' subvectors — the deterministic sampled
    * codebook; swap in [[kmeansLloyd]]-trained centroids per subspace
    * when training cost is warranted), so a 64-dim float vector stores
    * as m bytes. The ADC distance to `queryId`'s vector is the sum of
    * per-subspace lookup-table entries — the table (m·k ints) is
    * computed driver-side from the same micro-unit arithmetic and enters
    * the plan as one literal, so scoring 100 TB of codes is a narrow
    * shuffle-free projection (no float math per row at all).
    *
    * Everything is exact int64 micro-unit arithmetic (components
    * quantized once to round(x·1e6)), ties break toward the lowest
    * codeword index, so an external engine replays encode AND scoring
    * bit-for-bit. Returns (id, code_str, adc_u). */
  def pqEncodeAdc(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, k: Int, queryId: Long): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1e6 + lit(0.5))).as("vq"))
      .localCheckpoint(false)
    val seeds: Array[Array[Long]] = base.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(seeds.length == k, s"corpus smaller than codebook k=$k")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val qvec: Array[Long] = base.filter(col("id") === queryId)
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"no vector with id $queryId"))
      .getSeq[Long](1).toArray
    // ADC lookup table in exact micro-unit²: table(s)(j) = ||q_s - c_j,s||²
    val table: Seq[Seq[Long]] = (0 until m).map { s =>
      (0 until k).map { j =>
        var d = 0L; var i = 0
        while (i < sub) {
          val diff = qvec(s * sub + i) - seeds(j)(s * sub + i)
          d += diff * diff; i += 1
        }
        d
      }
    }
    val codeCols = (0 until m).map { s =>
      val cands = (0 until k).map { j =>
        struct(
          aggregate(zip_with(
            slice(col("vq"), s * sub + 1, sub),
            typedLit(seeds(j).slice(s * sub, (s + 1) * sub).toSeq),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v).as("d2"),
          lit(j).as("j"))
      }
      array_min(array(cands: _*)).getField("j")
    }
    val tableLit = typedLit(table)
    base.withColumn("codes", array(codeCols: _*))
      .withColumn("adc_u", aggregate(
        zip_with(tableLit, col("codes"),
          (row, c) => element_at(row, c + 1)),
        lit(0L), (acc, v) => acc + v))
      .select(col("id"),
        array_join(transform(col("codes"), _.cast("string")), "-").as("code_str"),
        col("adc_u"))
  }

  /** IVF-PQ search — the composed ANN scale path: a coarse quantizer
    * (kCoarse lowest-id seed centroids) prunes the corpus to the query's
    * `nprobe` nearest cells BEFORE any per-row scoring, then
    * [[pqEncodeAdc]]'s machinery scores only the survivors with the
    * driver-computed ADC lookup table. At 100 TB the coarse cell id is a
    * partition column: probing nprobe of kCoarse cells turns the scan
    * into partition pruning and the whole query reads nprobe/kCoarse of
    * the data, shuffles nothing, and finishes with a
    * TakeOrderedAndProject top-k. Same exact int64 micro-unit arithmetic
    * and lowest-index tie-breaks as [[kmeansLloyd]]/[[pqEncodeAdc]], so
    * the oracle replays pruning, encode and scoring bit-for-bit. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                kCoarse: Int, m: Int, k: Int, nprobe: Int,
                queryId: Long, topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= kCoarse, s"bad nprobe=$nprobe / kCoarse=$kCoarse")
    val base = df.select(col(idCol).as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1e6 + lit(0.5))).as("vq"))
      .localCheckpoint(false)
    val seeds: Array[Array[Long]] = base.orderBy(col("id")).limit(math.max(kCoarse, k))
      .collect().map(_.getSeq[Long](1).toArray)
    require(seeds.length >= math.max(kCoarse, k), "corpus smaller than codebooks")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val qvec: Array[Long] = base.filter(col("id") === queryId)
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"no vector with id $queryId"))
      .getSeq[Long](1).toArray
    def d2(a: Array[Long], b: Array[Long], from: Int, len: Int): Long = {
      var d = 0L; var i = 0
      while (i < len) { val x = a(from + i) - b(from + i); d += x * x; i += 1 }
      d
    }
    // the query's nprobe nearest coarse cells, ties to the lowest label
    val probes: Seq[Int] = (0 until kCoarse)
      .map(j => (d2(qvec, seeds(j), 0, dim), j)).sorted.take(nprobe).map(_._2)
    val coarseCands = (0 until kCoarse).map { j =>
      struct(
        aggregate(zip_with(col("vq"), typedLit(seeds(j).toSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (s, v) => s + v).as("d2"),
        lit(j).as("j"))
    }
    val pruned = base
      .withColumn("_cell", array_min(array(coarseCands: _*)).getField("j"))
      .filter(col("_cell").isin(probes.map(x => x: Any): _*))
    val table: Seq[Seq[Long]] = (0 until m).map { s =>
      (0 until k).map(j => d2(qvec, seeds(j), s * sub, sub))
    }
    val codeCols = (0 until m).map { s =>
      val cands = (0 until k).map { j =>
        struct(
          aggregate(zip_with(
            slice(col("vq"), s * sub + 1, sub),
            typedLit(seeds(j).slice(s * sub, (s + 1) * sub).toSeq),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v).as("d2"),
          lit(j).as("j"))
      }
      array_min(array(cands: _*)).getField("j")
    }
    pruned.withColumn("codes", array(codeCols: _*))
      .withColumn("adc_u", aggregate(
        zip_with(typedLit(table), col("codes"),
          (row, c) => element_at(row, c + 1)),
        lit(0L), (acc, v) => acc + v))
      .orderBy(col("adc_u"), col("id")).limit(topK)
      .select(col("id"), col("_cell").as("cell"),
        array_join(transform(col("codes"), _.cast("string")), "-").as("code_str"),
        col("adc_u"))
  }

  /** Symmetric per-vector int8 scalar quantisation — the embedding
    * storage-scale path (4× smaller at rest than float32, the standard
    * SQ8 layout ANN indexes ship). Each vector gets its own dequant step
    * `s = max|v_i| / 127`; codes are `q_i = round(v_i / s)` ∈ [−127,127]
    * (the all-zero vector gets s = 0 and all-zero codes). Reconstruction
    * error is bounded by s/2 per element (PropertySpec pins it), and
    * dequantised vectors drop into every existing cosine/IVF path. Pure
    * Column expressions over the scan — elements widen to double before
    * the divide so float inputs quantise exactly the same on any engine. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val m = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val step = m / 127.0
    df.select(col(idCol),
      when(m === 0.0, transform(col(vecCol), _ => lit(0L)))
        .otherwise(transform(col(vecCol),
          x => round(x.cast("double") / step).cast("long"))).as("q"),
      step.as("scale"))
  }

  /** Dequantise SQ8 codes back to a double array: v̂_i = q_i · scale. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Semantic decontamination: flag corpus vectors whose cosine against
    * ANY benchmark vector reaches `threshold` — the embedding-space twin
    * of [[graft.pipeline.Dedup.decontaminate]]'s n-gram flagging,
    * catching paraphrased eval leakage that exact grams miss. The
    * benchmark side is small and static (an eval set), so it BROADCASTS
    * whole: at corpus scale the plan is a scan-speed broadcast
    * nested-loop with the codegen'd dot kernel and per-row norms
    * computed once — no shuffle of the corpus at all. The filter
    * compares the ROUNDED cosine so borderline inclusion is identical
    * on any engine. */
  def crossNearDuplicates(corpus: DataFrame, corpusId: String, corpusVec: String,
                          bench: DataFrame, benchId: String, benchVec: String,
                          threshold: Double,
                          exactGrid: Boolean = false): DataFrame = {
    import graft.functions.FloatDotProduct.floatDot
    val c = corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv"))
      .withColumn("cn", sqrt(floatDot(col("cv"), col("cv"))))
    val b = bench.select(col(benchId).as("bench_id"), col(benchVec).as("bv"))
      .withColumn("bn", sqrt(floatDot(col("bv"), col("bv"))))
    if (!exactGrid)
      c.crossJoin(broadcast(b))
        .filter(col("cn") > 0 && col("bn") > 0)
        .withColumn("cosine",
          round(floatDot(col("cv"), col("bv")) / (col("cn") * col("bn")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("corpus_id"), col("bench_id"), col("cosine"))
    else {
      // same two-phase shape as gridPairs (r13 perf lesson): codegen'd
      // float prefilter at a recall-safe loosened threshold, per-row
      // quantized self-dots, ONE interpreted dot on survivors only —
      // the exact grid value decides membership and is what's emitted
      val c2 = c.withColumn("__cq0", dotQuantized(col("cv"), col("cv")))
        .withColumn("cq", guardSelfDot(col("__cq0"))).drop("__cq0")
        .withColumn("cslk", rowSlack(size(col("cv")), col("cn")))
      val b2 = b.withColumn("__bq0", dotQuantized(col("bv"), col("bv")))
        .withColumn("bq", guardSelfDot(col("__bq0"))).drop("__bq0")
        .withColumn("bslk", rowSlack(size(col("bv")), col("bn")))
      c2.crossJoin(broadcast(b2))
        .filter(col("cn") > 0 && col("bn") > 0)
        .filter(floatDot(col("cv"), col("bv")) / (col("cn") * col("bn")) >=
          lit(threshold - 1e-9) - col("cslk") - col("bslk"))
        .withColumn("cosine",
          dotQuantized(col("cv"), col("bv")).cast("double") /
            sqrt(col("cq").cast("double") * col("bq").cast("double")))
        .filter(col("cosine") >= threshold)
        .select(col("corpus_id"), col("bench_id"), col("cosine"))
    }
  }
}
