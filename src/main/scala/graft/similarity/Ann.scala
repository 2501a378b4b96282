package graft.similarity

import graft.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine_sim
import graft.sources.Tables
import VectorOps._

/** Similarity search over `embeddings` (SURVEY.md §2.4).
  *
  * Scale design: the query set is always the bounded side — broadcast
  * it, keep the corpus scan partition-parallel, take per-partition
  * top-k before the global bounded sort (Spark's TakeOrdered via
  * window + filter on rounded, tie-broken ranks). The LSH path prunes
  * the corpus to matching buckets before any distance math runs.
  */
object Ann {

  val TopK = 10

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))

  /** §2.4#33 — brute-force exact cosine top-k: queries (vec_id < 5)
    * broadcast against the whole corpus. Ranks use the rounded
    * similarity with vec_id tie-break so the cut is deterministic
    * across engines.
    */
  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 5)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"), round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.4#171 — k-NN classification eval: each probe vector takes
    * the majority label of its 5 nearest corpus neighbors (cosine,
    * ties → smaller label), scored against its true label per class.
    * The standard embedding-quality eval; same broadcast-probe +
    * per-partition top-k shape as [[annBruteforceTopk]], plus a
    * bounded vote rollup.
    */
  def annKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 20)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val nn = corpus.join(broadcast(probes))
      .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
    val votes = nn.groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"))
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
      // exact-count quotient, emitted unrounded (tie-attractor rule)
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_probes"))
      .orderBy(col("true_label"))
  }

  /** Mean block size the sign-bucket LSH aims for: the plane count is
    * derived so corpus/2^p ≤ this, which keeps the within-block pair
    * work ~n·target/2 — LINEAR in the corpus (the r10 verdict's last
    * confirmed scale-killer was the former fixed p=3, whose pair work
    * grew n²/8 — measured 9.0× for 3× data at the 30× axis).
    */
  val LshTargetBlock = 256

  /** Hyperplane count p for a corpus of `n` vectors: the smallest p
    * with 2^p ≥ ⌈n/[[LshTargetBlock]]⌉, clamped to [3, 64] (floor
    * keeps tiny corpora at the historical 3 planes; 64 is the
    * embedding dimension). Pure INTEGER arithmetic — bit length of
    * ⌈n/target⌉−1 — so the DuckDB oracle's
    * `length(printf('%b', q-1))` formulation is exactly equal at
    * every n, with no float-log boundary hazard at powers of two.
    */
  def derivedPlanes(n: Long): Int = {
    val q = (n + LshTargetBlock - 1) / LshTargetBlock
    val bits = if (q <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1L)
    math.min(64, math.max(3, bits))
  }

  /** Shared SQL fragment: the oracle's p, computed from count(*) with
    * the same integer bit-length law as [[derivedPlanes]], and the
    * p-bit sign-bucket string.
    */
  private[graft] def derivedPlanesCteSql: String =
    "pp AS (SELECT CAST(least(64, greatest(3, CASE WHEN q <= 1 THEN 0 " +
      "ELSE length(printf('%b', q - 1)) END)) AS INT) AS p\n" +
      s"       FROM (SELECT (count(*) + ${LshTargetBlock - 1}) // $LshTargetBlock AS q FROM e))"
  private[graft] def signBucketSql(vExpr: String): String =
    s"list_aggregate(list_transform(range(1, p + 1), " +
      s"j -> CASE WHEN $vExpr[j] > 0 THEN '1' ELSE '0' END), 'string_agg', '')"

  /** Sign-bucket code over the first `p` components — the
    * deterministic (axis-aligned hyperplane) LSH used by the oracle-
    * checked path. `p` comes from [[derivedPlanes]] so block size is
    * bounded by a constant, not a corpus fraction. Production variant
    * with seeded random hyperplanes: [[randomHyperplaneBucket]].
    */
  private def signBucket(v: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column =
    concat((1 to p).map(i =>
      when(element_at(v, i) > 0, lit("1")).otherwise(lit("0"))): _*)

  /** §2.4#34 — bucketed approximate top-k: queries only search the
    * corpus partition sharing their sign-bucket (1/2^p of the data,
    * with p derived from the corpus count so blocks hold
    * ~[[LshTargetBlock]] vectors at any SF). Same join/rank shape as
    * #33 but the bucket equi-join key lets Spark shuffle-partition
    * the corpus instead of broadcasting everything everywhere.
    */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val e0 = embeddings(spark, dir)
    // scalar: sizes p, the only driver-side value (dedup_semantic's
    // k-derivation pattern — the oracle recomputes it from count(*))
    val p = derivedPlanes(e0.count())
    val e = e0.withColumn("bucket", signBucket(col("v"), p))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
    val corpus = e.filter(col("vec_id") >= 5)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .select(col("q_id"), col("vec_id"), col("bucket"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.4#301 — multiprobe sign-bucket LSH top-k: each query searches
    * its own bucket PLUS the p buckets at Hamming distance 1 (one
    * hyperplane sign flipped) — the standard multiprobe recall
    * recovery (Lv et al., VLDB'07) for vectors that fall near a
    * hyperplane, WITHOUT growing block size: probe count is p+1 =
    * O(log(n/target)), so probed volume is ~(p+1)·[[LshTargetBlock]]
    * per query — logarithmic in the corpus, versus dropping a plane,
    * which would DOUBLE every block for everyone. Corpus vectors live
    * in exactly one bucket, so the probe union is duplicate-free by
    * construction (no distinct needed). The ≤|q|·(p+1)-row probe
    * frame broadcasts; the corpus is scanned once and never shuffles
    * (broadcast-hash join on the bucket key).
    */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e0 = embeddings(spark, dir)
    val p = derivedPlanes(e0.count()) // oracle recomputes from count(*)
    val e = e0.withColumn("bucket", signBucket(col("v"), p))
    // j = 0 keeps the home bucket; j = 1..p flips plane j's sign bit
    val probeBuckets = transform(sequence(lit(0), lit(p)), j =>
      when(j === 0, col("bucket")).otherwise(concat(
        col("bucket").substr(lit(1), j - 1),
        when(col("bucket").substr(j, lit(1)) === "1", lit("0")).otherwise(lit("1")),
        col("bucket").substr(j + 1, lit(p)))))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(probeBuckets).as("bucket"))
    val corpus = e.filter(col("vec_id") >= 5)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(probes), Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.4#35 — per-vector norm/moment primitives. */
  def vecNorms(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        size(col("v")).cast("long").as("dim"),
        round(norm2(col("v")), 4).as("l2_norm"),
        round(vSum(col("v")) / size(col("v")), 4).as("mean"),
        round(vMin(col("v")), 4).as("vmin"),
        round(vMax(col("v")), 4).as("vmax"))
      .orderBy(col("vec_id"))

  /** §2.3#32 — embedding near-duplicate pairs: cosine above threshold
    * inside sign-bucket LSH blocks. The join key is the hyperplane
    * bucket, NOT a data label — block size is corpus/2^p regardless of
    * class skew, and p is DERIVED from the corpus count
    * ([[derivedPlanes]]: 2^p ≥ n/[[LshTargetBlock]]) so blocks stay
    * ~constant-size and the pair work stays ~n·target/2 — linear at
    * 100 TB, where the former fixed p=3 grew n²/8 (the r10 verdict's
    * confirmed 30× cap-breaker). Standard LSH recall tradeoff:
    * cross-bucket near-dups are missed, more tables/probes recover
    * them. Lives here with the vector machinery; listed under dedup
    * in the inventory.
    */
  def dedupEmbeddingCos(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val e0 = embeddings(spark, dir)
    val p = derivedPlanes(e0.count()) // oracle recomputes from count(*)
    val e = e0.withColumn("bucket", signBucket(col("v"), p))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        round(cosine_sim(col("a.v"), col("b.v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** §2.4#47 — IVF coarse quantization: centroids are the per-label
    * mean vectors (posexplode → component-wise partial-agg avg →
    * re-assembled in position order), every vector is assigned to its
    * nearest centroid by cosine. The centroid table is tiny and
    * broadcast; at query time an IVF search probes only the matching
    * centroid's partition (demonstrated in AnnSpec), which is the
    * standard two-stage ANN layout at 100 TB. Ties in the rounded
    * similarity break on centroid id so the argmax is deterministic.
    */
  /** Centroid table (c_id, cv) — per-label component means via
    * posexplode + partial agg, shared by the assignment query and the
    * index build.
    */
  /** §2.4#178 — within-label outliers: each vector's cosine to its
    * OWN label centroid; per label the mean cohesion and the worst
    * outlier. The mislabeled-example / cluster-quality screen an
    * embedding pipeline runs after labeling. Same broadcast-centroid
    * shape as the IVF assign, one extra bounded rollup.
    */
  def vecLabelOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val cents = centroidsOf(e).withColumnRenamed("c_id", "label")
    val w = Window.partitionBy(col("label")).orderBy(col("cos"), col("vec_id"))
    e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(cosine_sim(col("v"), col("cv")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(avg(col("cos")), 4) + lit(0.0)).as("mean_cos"),
        min(when(col("rnk") === 1, col("vec_id"))).as("outlier_vec"),
        min(col("cos")).as("outlier_cos"))
      .orderBy(col("label"))
  }

  private def centroidsOf(e: DataFrame): DataFrame = e
    .select(col("label").as("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
    .groupBy(col("c_id"), col("pos")).agg(avg(col("x")).as("cx"))
    .groupBy(col("c_id"))
    .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
      s => s.getField("cx")).as("cv"))

  /** Nearest-centroid assignment of every vector in `e` against a
    * broadcast centroid table (rounded-cos argmax, c_id tie-break).
    */
  private def assignTo(e: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("c_id"))
    e.join(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("v"), col("c_id"),
        round(cosine_sim(col("v"), col("cv")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("label"), col("v"),
        col("c_id").as("assigned_centroid"), col("cos"))
  }

  def annIvfAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    assignTo(e, centroidsOf(e))
      .select(col("vec_id"), col("label"), col("assigned_centroid"), col("cos"))
      .orderBy(col("vec_id"))
  }

  val DefaultIvfIndexPath = "/tmp/graft_ivf_index"

  /** Offline IVF index build: persists the centroid table plus the
    * corpus vectors partitioned by their assigned cell
    * (`cells/assigned_centroid=<c>/...`). This is the job a
    * deployment runs once per corpus snapshot; every probe afterwards
    * reads ONLY its cells' directories — at 100 TB the difference
    * between scanning the corpus per query and scanning nprobe/k of
    * it.
    */
  def buildIvfIndex(spark: SparkSession, dir: String,
      indexPath: String = DefaultIvfIndexPath): Unit = {
    val e = embeddings(spark, dir)
    val centroids = centroidsOf(e)
    centroids.write.mode("overwrite").parquet(s"$indexPath/centroids")
    assignTo(e, centroids)
      .select(col("vec_id"), col("label"), col("v"), col("assigned_centroid"))
      .write.mode("overwrite").partitionBy("assigned_centroid")
      .parquet(s"$indexPath/cells")
  }

  /** IVF probe over a MATERIALIZED index: queries rank the stored
    * centroids (broadcast, tiny), their top-`nprobe` cell ids become a
    * literal partition filter on the stored cell table (the scan shows
    * PartitionFilters — nothing outside the probed cells is read, and
    * no centroid/assignment recompute happens at query time), then the
    * usual broadcast-join + bounded-rank top-k runs inside the probed
    * cells. The collect is of |queries|×nprobe cell ids — a bounded
    * pushdown parameter, not data.
    */
  def annIvfProbe(spark: SparkSession, queries: DataFrame, k: Int, nprobe: Int,
      indexPath: String = DefaultIvfIndexPath,
      corpusFilter: Column = lit(true)): DataFrame = {
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("c_id"))
    val probes = queries.join(broadcast(centroids))
      .select(col("q_id"), col("qv"), col("c_id"),
        round(cosine_sim(col("qv"), col("cv")), 4).as("ccos"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("probe"))
    val cellIds = probes.select(col("probe")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$indexPath/cells")
      .filter(col("assigned_centroid").isin(cellIds: _*))
      .filter(corpusFilter)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cells.join(broadcast(probes), col("assigned_centroid") === col("probe"))
      .select(col("q_id"), col("vec_id"), col("probe"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** §2.4#106 — IVF probe search (nprobe=1) through the materialized
    * index: build once, probe the stored cell-partitioned table. Same
    * rank/tie-break discipline as the other top-k paths; identical
    * results to the inline two-level formulation the oracle computes.
    */
  private val ivfBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One index location per corpus directory, so indexes for
    * different scale factors never clobber each other in a JVM.
    */
  def ivfIndexPathFor(dir: String): String =
    DefaultIvfIndexPath + "_" + Integer.toHexString(dir.hashCode)

  /** Build-once accessor for the materialized IVF index of `dir`
    * (shared by the probe queries here and the IVF+PQ composite in
    * [[graft.similarity.Pq]]).
    */
  def ivfIndex(spark: SparkSession, dir: String): String =
    ivfBuilt.computeIfAbsent(dir, d => {
      val p = ivfIndexPathFor(d); buildIvfIndex(spark, d, p); p
    })

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    // build once per corpus per JVM — probes reuse the stored index,
    // which is the whole point of materializing it
    val idx = ivfBuilt.computeIfAbsent(dir, d => {
      val p = ivfIndexPathFor(d); buildIvfIndex(spark, d, p); p
    })
    val queries = spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    annIvfProbe(spark, queries, k = 5, nprobe = 1, indexPath = idx,
      corpusFilter = col("vec_id") >= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.4#113 — multi-probe IVF search (nprobe=2): each query also
    * searches its second-nearest cell, trading 2× probe work for the
    * recall lost at cell boundaries — the standard IVF recall knob.
    * Same materialized index; the partition filter simply admits two
    * cells per query.
    */
  def annIvfMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfBuilt.computeIfAbsent(dir, d => {
      val p = ivfIndexPathFor(d); buildIvfIndex(spark, d, p); p
    })
    val queries = spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    annIvfProbe(spark, queries, k = 5, nprobe = 2, indexPath = idx,
      corpusFilter = col("vec_id") >= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.5#333 `ann_semantic_contamination` — embedding-space eval-set
    * contamination probe through the materialized IVF index: the
    * held-out slice (vec_id % 97, the same deterministic eval-suite
    * stand-in as `text_contamination`) queries the stored index with
    * nprobe=2, and each eval item's top-k semantic neighbors among
    * the REST of the corpus are reported with a `contaminated` flag
    * at cosine ≥ 0.45. This is the semantic twin of the 8-token
    * span-hash check: a paraphrased benchmark item shares no exact
    * span, but its embedding still lands next to the leaked source —
    * the decontamination pass n-gram overlap provably misses
    * (span hashing is blind to any rewording; the cosine isn't).
    *
    * Cost is the IVF probe bill, not a corpus scan: |eval| × nprobe
    * cell partitions read through the stored partition filter, then
    * broadcast-join + bounded rank inside the probed cells — the
    * shape that stays |eval|-bounded when the corpus is 100 TB
    * (the index build amortizes across every probe-family op via
    * [[ivfIndex]]). The threshold lives on the ROUNDED round(·,4)
    * cosine, so the boolean is bit-deterministic on both engines.
    */
  def annSemanticContamination(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    val queries = spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    annIvfProbe(spark, queries, k = 5, nprobe = 2, indexPath = idx,
      corpusFilter = col("vec_id") % 97 =!= 0)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cos"),
        (col("cos") >= lit(0.45)).as("contaminated"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** §2.4#64 — scalar quantization: each vector affinely mapped to
    * uint8 codes against its own [min, max] range — the storage-side
    * compression step of a vector index (4× smaller than float32;
    * 32× vs double). Emits per-vector code stats so the oracle check
    * is compact.
    */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    e.select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      .select(col("vec_id"), transform(col("v"),
        x => floor((x - col("lo")) / (col("hi") - col("lo")) * 255).cast("long")).as("codes"))
      .select(col("vec_id"),
        element_at(col("codes"), 1).as("code0"),
        element_at(col("codes"), 2).as("code1"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy(col("vec_id"))
  }

  /** §2.4#93 — label-separation diagnostic: mean within-label cosine
    * per label (how clustered each class is) — the embedding-quality
    * readout a training pipeline monitors. The pair join runs over a
    * DETERMINISTIC md5-hash sample of the vectors (keep-rate 1/2 per
    * side → 1/4 of the pairs): a diagnostic mean doesn't need every
    * pair, and sampling vectors — not pairs — shrinks the join input
    * itself, keeping the block quadratic bounded at 100 TB (tune the
    * rate down as n grows; the estimate's variance falls as 1/pairs).
    */
  def annLabelSeparation(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "8")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"), cosine_sim(col("a.v"), col("b.v")).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"), round(avg(col("cos")), 4).as("mean_within_cos"))
      .orderBy(col("label"))
  }

  /** §2.4#95 — array-position primitives: where each vector peaks
    * and bottoms out (argmax/argmin over the component array).
    */
  def vecArgmax(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    e.select(col("vec_id"),
        array_position(col("v"), array_max(col("v"))).as("argmax_pos"),
        array_position(col("v"), array_min(col("v"))).as("argmin_pos"),
        size(col("v")).cast("long").as("dim"))
      .orderBy(col("vec_id"))
  }

  /** §2.4#88 — recall@5 of the LSH index against brute force: the
    * built-in quality evaluation an ANN deployment runs after every
    * index build. Hits = LSH results appearing in the exact top-5.
    */
  /** §2.4 `vec_centroid_drift` — embedding drift monitor: per label,
    * the cosine between the class centroid computed on the even-id
    * half and the odd-id half of the corpus (a production pipeline
    * splits by ingestion batch instead). Centroids are per-component
    * means — one map-side-combinable aggregation per half, shuffling
    * O(labels·dims) — and a drop in half-vs-half cosine is the
    * earliest signal an embedding model or upstream corpus shifted.
    */
  def vecCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .withColumn("half", (col("vec_id") % 2 === 0).cast("int"))
    def centroids(half: Int, cn: String): DataFrame = e
      .filter(col("half") === half)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"),
        transform(col("pairs"), p => p.getField("cx")).as(cn))
    val na = e.filter(col("half") === 1).groupBy(col("label"))
      .agg(count(lit(1)).as("n_even"))
    val nb = e.filter(col("half") === 0).groupBy(col("label"))
      .agg(count(lit(1)).as("n_odd"))
    centroids(1, "ca").join(centroids(0, "cb"), Seq("label"))
      .join(na, Seq("label")).join(nb, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(cosine_sim(col("ca"), col("cb")), 4).as("half_cosine"))
      .orderBy(col("label"))
  }

  /** §2.4 `ann_ivf_recall_sweep` — the IVF tuning curve: recall@5 vs
    * nprobe ∈ {1,2,4} against the exact brute-force top-5, one row
    * per setting. This is the artifact an ANN deployment decides its
    * probe budget from (recall climbs toward 1.0 as probes admit the
    * neighbors lost at cell boundaries, cost climbs linearly). All
    * three sweeps reuse the SAME materialized index — only the probe
    * admission rank changes — so the sweep costs three bounded probe
    * joins, not three index builds.
    */
  def annIvfRecallSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = ivfBuilt.computeIfAbsent(dir, d => {
      val p = ivfIndexPathFor(d); buildIvfIndex(spark, d, p); p
    })
    val queries = spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = annBruteforceTopk(spark, dir).filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id"))
      .cutLineage(eager = false) // lazy: blocks die with the RDD, no session-lifetime cache pin
    // score the nprobe=4 candidate superset ONCE; each sweep's
    // admitted set is then a filter on the admitting cell's rank —
    // one cells scan and one distance join for the whole curve
    // instead of one per setting
    val centroids = spark.read.parquet(s"$idx/centroids")
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("c_id"))
    val probes = queries.join(broadcast(centroids))
      .select(col("q_id"), col("qv"), col("c_id"),
        round(cosine_sim(col("qv"), col("cv")), 4).as("ccos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 4)
      .select(col("q_id"), col("qv"), col("c_id").as("probe"), col("rn"))
    val cellIds = probes.select(col("probe")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$idx/cells")
      .filter(col("assigned_centroid").isin(cellIds: _*))
      .filter(col("vec_id") >= 5)
    val wTop = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val scored = cells.join(broadcast(probes), col("assigned_centroid") === col("probe"))
      .select(col("q_id"), col("vec_id"), col("rn"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos"))
      .cutLineage(eager = false) // lazy: blocks die with the RDD, no session-lifetime cache pin
    val sweeps = Seq(1, 2, 4).map { np =>
      scored.filter(col("rn") <= np).withColumn("nprobe", lit(np.toLong))
    }.reduce(_ union _)
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("nprobe"), col("q_id"), col("vec_id"))
    val hits = sweeps.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe"), col("q_id")).agg(count(lit(1)).as("n_hits"))
    val grid = Seq(1L, 2L, 4L).toDF("nprobe")
      .crossJoin(exact.select(col("q_id")).distinct())
    grid.join(hits, Seq("nprobe", "q_id"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        // Σhits / 5n: exact-int quotient, emitted unrounded (the
        // round-boundary class); bit-identical across engines
        (sum(col("n_hits")).cast("double") / (count(lit(1)) * 5))
          .as("mean_recall"))
      .orderBy(col("nprobe"))
  }

  def annRecallAtK(spark: SparkSession, dir: String): DataFrame = {
    val exact = annBruteforceTopk(spark, dir).filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id"))
    val approx = annLshTopk(spark, dir).select(col("q_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / lit(5)).as("recall_at_5"))
      .orderBy(col("q_id"))
  }

  /** §2.4#121 — dimension-truncation quality (matryoshka-style): how
    * much of the exact top-5 survives when search runs on only the
    * first 16 of 64 components — the evaluation behind "cheap
    * low-dim pre-stage, full-dim re-rank" designs (4× less distance
    * math and memory traffic in the first stage at 100 TB). Same
    * bounded-rank shapes as [[annRecallAtK]].
    */
  def annDimTruncation(spark: SparkSession, dir: String, dims: Int = 16): DataFrame = {
    val e = embeddings(spark, dir)
    val full = e.filter(col("vec_id") >= 5)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        slice(col("v"), 1, dims).as("qt"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    def top5(scored: DataFrame): DataFrame = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id"))
    val exact = top5(full.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosine_sim(col("qv"), col("v")), 4).as("cos")))
    val trunc = top5(full.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosine_sim(col("qt"), slice(col("v"), 1, dims)), 4).as("cos")))
    val hits = trunc.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / lit(5)).as("recall_at_5"))
      .orderBy(col("q_id"))
  }

  /** One Lloyd iteration: assign every vector to its nearest centroid
    * (broadcast argmax, cosine) and recompute centroids as component
    * means of their members. Input/output centroid tables are
    * (c_id: long, cv: array<double>).
    */
  /** Nearest-centroid assignment as a linear higher-order fold over
    * the centroid table collected to ONE array row (broadcast): no
    * n×k row explosion and no per-vector window sort — the r9 Lloyd
    * step shuffled an n×k fat join through a vec_id window, which at
    * sf1 was a ~266 MB sort for 13 centroids. The argmax reads the
    * similarity rounded to 4 decimals with a c_id tie-break (order-
    * independent fold), identical to the join+row_number formulation
    * the oracles replay; double sum-order noise sits at 1e-16.
    */
  private[similarity] def nearestCentroid(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids.agg(collect_list(struct(col("c_id"), col("cv"))).as("cs"))
    vectors.join(broadcast(centArr))
      .withColumn("best", aggregate(col("cs"),
        struct(lit(Long.MaxValue).as("c_id"), lit(-10.0).as("cos")),
        (acc, cent) => {
          val c = round(cosine_sim(col("v"), cent.getField("cv")), 4)
          when(c > acc.getField("cos") ||
            (c === acc.getField("cos") && cent.getField("c_id") < acc.getField("c_id")),
            struct(cent.getField("c_id").as("c_id"), c.as("cos"))).otherwise(acc)
        }))
      .select(col("vec_id"), col("v"), col("best.c_id").as("c_id"), col("best.cos").as("cos"))
  }

  def kmeansStep(vectors: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroid(vectors, centroids)
      .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("c_id"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("cv"))

  /** K-means over the embeddings: deterministic seeding from the k
    * lowest vec_ids, `iters` Lloyd iterations. Each iteration is one
    * broadcast-assign pass + one component-mean shuffle — the
    * standard distributed k-means layout (no driver-side math beyond
    * the loop).
    */
  def kmeans(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 3): DataFrame =
    kmeansOn(embeddings(spark, dir).select(col("vec_id"), col("v")), k, iters)

  /** [[kmeans]] over a caller-supplied (vec_id, v) frame — lets an
    * operator that already holds a pinned embeddings frame run the
    * Lloyd chain against the pin instead of paying a fresh
    * scan+rebalance per assign pass (guide §2.4).
    */
  def kmeansOn(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = vectors.select(col("vec_id"), col("v"))
    var centroids = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    var i = 0
    while (i < iters) {
      // lazy lineage cut per step: stops the Lloyd chain re-deriving
      // without pinning a session-lifetime cache entry (k-row frame)
      centroids = kmeansStep(e, centroids).cutLineage(eager = false)
      i += 1
    }
    centroids
  }

  /** §2.4#66 oracle surface of [[kmeans]]: k=4, two Lloyd iterations,
    * first four centroid components (rounded past avg sum-order
    * noise) plus the dimension. The full-precision centroid table is
    * the production output; this projection is what the cross-engine
    * hash gate can compare exactly.
    */
  def kmeansQuery(spark: SparkSession, dir: String): DataFrame =
    kmeans(spark, dir, k = 4, iters = 2)
      .select(col("c_id"),
        round(element_at(col("cv"), 1), 4).as("c0"),
        round(element_at(col("cv"), 2), 4).as("c1"),
        round(element_at(col("cv"), 3), 4).as("c2"),
        round(element_at(col("cv"), 4), 4).as("c3"),
        size(col("cv")).cast("long").as("dim"))
      .orderBy(col("c_id"))

  /** DuckDB oracle for [[kmeansQuery]] — the two Lloyd iterations
    * unrolled as chained CTEs with the identical rounded-argmax
    * assignment discipline.
    */
  def kmeansOracleSql: String = {
    def assign(cent: String, out: String): String =
      s"$out AS (SELECT vec_id, v, c_id FROM (\n" +
        "  SELECT e.vec_id, e.v, c.c_id,\n" +
        "    row_number() OVER (PARTITION BY e.vec_id\n" +
        "      ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn\n" +
        s"  FROM e CROSS JOIN $cent c) WHERE rn = 1)"
    def recompute(asg: String, out: String): String =
      s"$out AS (SELECT c_id, list(cx ORDER BY pos) AS cv FROM (\n" +
        "  SELECT c_id, pos, avg(x) AS cx FROM (\n" +
        s"    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM $asg)\n" +
        "  GROUP BY c_id, pos) GROUP BY c_id)"
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      "seed AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 4),\n" +
      assign("seed", "asg1") + ",\n" + recompute("asg1", "cen1") + ",\n" +
      assign("cen1", "asg2") + ",\n" + recompute("asg2", "cen2") + "\n" +
      "SELECT c_id, round(cv[1], 4) + 0.0 AS c0, round(cv[2], 4) + 0.0 AS c1,\n" +
      "  round(cv[3], 4) + 0.0 AS c2, round(cv[4], 4) + 0.0 AS c3,\n" +
      "  CAST(len(cv) AS BIGINT) AS dim\n" +
      "FROM cen2 ORDER BY c_id"
  }

  /** Seeded random-hyperplane bucket (production LSH path, exercised
    * in tests): p pseudo-random hyperplanes derived from md5(seed,
    * plane, dim) so the code is deterministic without Math.random.
    */
  /** §2.4#120 oracle surface of the production LSH path: bucket
    * occupancy of the seeded random-hyperplane codes (how evenly the
    * 2^p buckets split the corpus — the load-balance readout that
    * decides whether p is big enough before a bucketed join).
    */
  def annRhBucketStats(spark: SparkSession, dir: String): DataFrame =
    randomHyperplaneBucket(spark, dir, planes = 8)
      .groupBy(col("rh_bucket")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("rh_bucket"))

  /** DuckDB oracle for [[annRhBucketStats]] — the identical
    * md5-seeded hyperplane components rebuilt in SQL (hex→int via
    * digit arithmetic; /2^24 and −0.5 are exact, so the only float
    * work is the dot product itself).
    */
  def rhBucketOracleSql: String = {
    def hexDigit(pos: Int): String =
      s"(CASE WHEN substr(h, $pos, 1) BETWEEN '0' AND '9' " +
        s"THEN ascii(substr(h, $pos, 1)) - 48 ELSE ascii(substr(h, $pos, 1)) - 87 END)"
    val hex6 = (1 to 6).zip(Seq(1048576, 65536, 4096, 256, 16, 1))
      .map { case (pos, mul) => s"${hexDigit(pos)} * $mul" }.mkString(" +\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ph AS (SELECT p, d, md5('plane' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)) AS h
       |  FROM (SELECT unnest(range(0, 8)) AS p) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)),
       |pd AS (SELECT p, d,
       |  ($hex6) / 16777216.0 - 0.5 AS w
       |  FROM ph),
       |comp AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e),
       |proj AS (SELECT vec_id, p, sum(x * w) AS proj
       |  FROM comp JOIN pd ON comp.d = pd.d GROUP BY vec_id, p),
       |b AS (SELECT vec_id,
       |  string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS rh_bucket
       |  FROM proj GROUP BY vec_id)
       |SELECT rh_bucket, count(*) AS n_vectors FROM b
       |GROUP BY rh_bucket ORDER BY rh_bucket""".stripMargin
  }

  /** §2.4#147 — one-pass Gram (scatter) matrix of the embedding
    * corpus via the mergeable [[graft.functions.GramMatrixAgg]]
    * buffer: each partition reduces its rows to a d(d+1)/2 double
    * array (map-side combine), one merge produces the d×d summary —
    * the covariance/PCA input computed without ever shuffling more
    * than O(d²) bytes. The explode-and-self-join alternative this
    * replaces would shuffle n·d² rows (at 100 TB, ~quadrillions).
    */
  def vecGramMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.rebalanced(Tables.embeddings(spark, dir))
      .agg(graft.functions.GramMatrixAggFunctions.gram_matrix(col("embedding"), 64).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        (round(col("c.g"), 4) + lit(0.0)).as("g"))
      .orderBy(col("i"), col("j"))

  /** §2.4#148 — first-principal-component projection: the Gram matrix
    * from [[vecGramMatrix]]'s aggregate is a bounded d×d driver-side
    * object (2080 doubles — a model parameter, not data, same
    * precedent as the IVF probe ids), power-iterated 10 steps from a
    * fixed deterministic start, sign-fixed on the largest-|component|
    * axis, then broadcast back as a literal for a narrow one-pass
    * projection. The oracle replays the identical 10 unrolled
    * iterations in SQL, so the comparison is of a deterministic
    * function, not of eigensolver internals.
    */
  def vecPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val d = 64
    val iters = 10
    val cells = Tables.rebalanced(Tables.embeddings(spark, dir))
      .agg(graft.functions.GramMatrixAggFunctions.gram_matrix(col("embedding"), d).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i"), col("c.j"), col("c.g"))
      .collect() // bounded: d(d+1)/2 = 2080 cells, parameter-sized
    val g = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt; val v = r.getDouble(2)
      g(i)(j) = v; g(j)(i) = v
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += g(i)(j) * v(j); j += 1 }
        s
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
      it += 1
    }
    val kmax = v.indices.maxBy(i => math.abs(v(i)))
    val sgn = if (v(kmax) < 0) -1.0 else 1.0
    val vlit = typedLit(v.map(_ * sgn).toSeq)
    Tables.rebalanced(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        (round(aggregate(
          zip_with(toDouble(col("embedding")), vlit, (x, wt) => x * wt),
          lit(0.0), (acc, x) => acc + x), 4) + lit(0.0)).as("pc1"))
      .orderBy(col("vec_id"))
  }

  def randomHyperplaneBucket(spark: SparkSession, dir: String, planes: Int = 8): DataFrame = {
    val e = embeddings(spark, dir)
    val bucketBits = (0 until planes).map { p =>
      // plane p component d = (md5-derived value in [-0.5, 0.5))
      val proj = aggregate(
        zip_with(col("v"),
          transform(sequence(lit(1), size(col("v"))),
            d => (conv(substring(md5(concat(lit(s"plane$p|"), d.cast("string"))), 1, 6), 16, 10)
              .cast("double") / lit(16777216.0)) - 0.5),
          (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit("1")).otherwise(lit("0"))
    }
    e.select(col("vec_id"), col("label"), concat(bucketBits: _*).as("rh_bucket"))
  }

  /** §2.4#270 — IVF cell-occupancy balance: vectors per cell, each
    * cell's corpus share, and its imbalance vs the uniform mean. The
    * skew readout that decides whether an IVF index needs re-training
    * or cell splitting BEFORE probe latency regresses — a hot cell is
    * a hot partition at query time. One assignment pass (broadcast
    * centroids), one bounded-cell aggregate.
    */
  def annCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val cells = assignTo(e, centroidsOf(e))
      .groupBy(col("assigned_centroid"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      // exact-count quotients/chains, emitted unrounded (tie rule)
      .select(col("assigned_centroid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("n_total")).as("share"),
        (col("n_vecs").cast("double") * col("n_cells") / col("n_total"))
          .as("imbalance"))
      .orderBy(col("assigned_centroid"))
  }

  /** §2.4#292 — incremental IVF maintenance for a daily embedding
    * drop: the corpus splits into a BASE (vec_id % 10 ≠ 0 — the
    * indexed snapshot) and a DELTA (vec_id % 10 = 0 — today's
    * arrivals). Centroids are computed from the base ONLY and frozen;
    * the delta is nearest-centroid assigned against that broadcast
    * table, so the per-drop cost is |delta| × cells of distance math —
    * never a re-cluster and never an all-corpus re-scan (the base
    * cell census is the index build's own byproduct, mirrored here).
    * The readout is the re-train monitor: per-cell base/delta
    * occupancy, the delta's share, and the fit drop (mean base
    * centroid-cos minus mean delta centroid-cos — a drop means the
    * arrivals sit farther from the frozen centroids than the indexed
    * corpus does, i.e. the distribution is drifting off the index).
    * The incremental twin of [[graft.dedup.Dedup.dedupIncremental]]
    * on the similarity side — the same full-vs-incremental contract
    * as the reference's `isAFullBackupNeeded` split
    * (bin/cassandra-syncer:154). Fit means are exact: the rounded
    * cosines are summed as ×10⁴ longs, so no float fold-order drift.
    */
  def annIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val delta = e.filter(col("vec_id") % 10 === 0)
    val centroids = centroidsOf(base)
    def census(part: DataFrame, n: String, fit: String): DataFrame =
      assignTo(part, centroids)
        .groupBy(col("assigned_centroid"))
        .agg(count(lit(1)).as(n),
          sum(round(col("cos") * 10000).cast("long")).as(s"${fit}_s"))
        .withColumn(fit,
          round(col(s"${fit}_s") / col(n) / 10000.0, 4))
        .drop(s"${fit}_s")
    census(base, "n_base", "base_fit")
      .join(census(delta, "n_delta", "delta_fit"),
        Seq("assigned_centroid"), "full_outer")
      .select(col("assigned_centroid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        round(coalesce(col("n_delta"), lit(0L)).cast("double") /
          (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L))), 4)
          .as("delta_share"),
        col("base_fit"), col("delta_fit"),
        round(col("base_fit") - col("delta_fit"), 4).as("fit_drop"))
      .orderBy(col("assigned_centroid"))
  }

  /** §2.4#271 — per-dimension embedding statistics (mean / stddev /
    * min / max): the whitening-QA pass that catches dead dimensions,
    * scale drift between embedding-model versions, and un-normalized
    * batches. `posexplode` fans each vector into (dim, x) pairs that
    * reduce map-side onto the bounded dimension axis — the shuffle
    * carries dims × partials, not vectors.
    */
  def vecDimStats(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        // + 0.0 normalizes -0.0 (a dim with mean in (-0.00005, 0]
        // rounds to negative zero in DuckDB but not here — flipped
        // the sf0.1 hash in r12)
        (round(avg(col("x")), 4) + lit(0.0)).as("mean_x"),
        (round(stddev_samp(col("x")), 4) + lit(0.0)).as("sd_x"),
        (round(min(col("x")), 4) + lit(0.0)).as("min_x"),
        (round(max(col("x")), 4) + lit(0.0)).as("max_x"))
      .orderBy(col("dim"))

  /** §2.4#274 — pairwise-cosine histogram over a deterministic hash
    * sample: the embedding-space health readout (a hubby/collapsed
    * space skews the mass toward 1.0; a healthy one is centered).
    * The sample (`vec_id % 19 == 0`) is the SCALE KNOB — all-pairs
    * math runs only on the bounded sample, broadcast against itself,
    * so the cost is sample² regardless of corpus size; the 0.1-wide
    * cosine bands are a ≤21-cell axis. Raise the modulus at 100 TB
    * to hold the sample near 10³–10⁴ vectors.
    */
  /** §2.4#279 — similarity-graph tuning curve: candidate edge and
    * touched-node counts at cosine thresholds {0.2, 0.4, 0.6, 0.8}
    * over the same deterministic hash sample as [[vecCosineHist]] —
    * the readout that picks the embedding-dedup threshold before the
    * full banded pass runs. ONE pass of pairwise cosines (bounded
    * sample²), swept against a broadcast 4-row grid.
    */
  def vecSimThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = embeddings(spark, dir).filter(col("vec_id") % 19 === 0)
      .select(col("vec_id"), col("v"))
    val pairs = s.join(broadcast(s.select(col("vec_id").as("vec_b"), col("v").as("vb"))),
        col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        round(cosine_sim(col("v"), col("vb")), 4).as("cos"))
      .cutLineage(eager = false) // lazy: blocks die with the RDD, no session-lifetime cache pin
    val th = Seq(0.2, 0.4, 0.6, 0.8).toDF("threshold")
    val surviving = pairs.crossJoin(broadcast(th))
      .filter(col("cos") >= col("threshold"))
      .cutLineage(eager = false) // lazy: blocks die with the RDD, no session-lifetime cache pin
    val nEdges = surviving.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_edges"))
    val nNodes = surviving
      .select(col("threshold"), explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
      .groupBy(col("threshold")).agg(countDistinct(col("vec_id")).as("n_nodes"))
    th.join(nEdges, Seq("threshold"), "left_outer")
      .join(nNodes, Seq("threshold"), "left_outer")
      .na.fill(0L, Seq("n_edges", "n_nodes"))
      .orderBy(col("threshold"))
  }

  def vecCosineHist(spark: SparkSession, dir: String): DataFrame = {
    val s = embeddings(spark, dir).filter(col("vec_id") % 19 === 0)
      .select(col("vec_id"), col("v"))
    val b = s.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    val bands = s.join(broadcast(b), col("vec_id") < col("vec_b"))
      .select(floor(round(cosine_sim(col("v"), col("vb")), 4) * 10)
        .cast("long").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
    val tot = bands.agg(sum(col("n_pairs")).as("tp"))
    bands.crossJoin(broadcast(tot))
      .select(col("band"),
        (col("band").cast("double") / 10).as("cos_lo"),
        col("n_pairs"),
        (col("n_pairs").cast("double") / col("tp")).as("share"))
      .orderBy(col("band"))
  }

  /** §2.4 `dedup_semantic` — SemDeDup-shape embedding-cluster dedup:
    * clustering cells first, then cosine pairs ONLY within a cell,
    * and each near-duplicate group collapses to its centroid-nearest
    * member. A vector is dropped iff some same-cell neighbor with
    * cosine ≥ τ sits strictly closer to the shared centroid (rounded
    * centroid-cos, vec_id tie-break) — a deterministic pairwise
    * dominance rule, so the survivor set needs no iterative
    * clustering. `dup_of` names the smallest dominating neighbor as
    * the witness.
    *
    * Scale (the r9 verdict's 100×-killer, fixed): cells must stay at
    * a fixed ~125-vector occupancy so their count k = ⌈n/125⌉ grows
    * with the corpus — a single-level assign is therefore an n×k ≈
    * n²/125 cosine grid with a corpus-proportional broadcast. This
    * version is TWO-LEVEL: ⌈√k⌉ coarse centroids (2-step Lloyd) are
    * the only broadcast frame — √-scale, ~3k rows at 10⁹ vectors —
    * and the ~√k fine centroids per coarse cell are seeded, Lloyd-
    * refined and assigned via a co-partitioned equi-join ON the
    * coarse cell id, so no executor ever sees the full k-row centroid
    * table and the per-vector distance work is O(√k), not O(k). The
    * within-fine-cell pair pass stays linear at constant occupancy.
    * The SQL twin computes the same k/kc/m from the data, so the
    * oracle equivalence holds at every SF.
    */
  def dedupSemantic(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    // one pinned embeddings frame feeds the sizing count, the whole
    // coarse Lloyd chain and the coarse routing below — previously
    // each assign pass re-paid the scan + rebalance exchange, and the
    // sizing count() alone paid a full scan+shuffle that a parquet
    // metadata count answers for free (guide §2.4/§1: n is identical
    // either way — rebalanced() is a pure repartition). The pinned
    // frame drops `label`, so its plan is no subtree of the shared
    // embeddings() frame: a pin of that frame would outlive this
    // operator and rewrite every later vec_*/ann_* plan onto its
    // InMemoryRelation.
    val e = graft.CachePins.pin(Tables.rebalanced(Tables.embeddings(spark, dir))
      .select(col("vec_id"), toDouble(col("embedding")).as("v")))
    val n = Tables.embeddings(spark, dir).count() // scalar: sizes k/kc/m, the only driver-side value
    val k = math.max(1, math.ceil(n / 125.0).toInt)
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt) // coarse cells (√k: bounded broadcast)
    val m = math.max(1, math.ceil(k.toDouble / kc).toInt) // fine cells per coarse cell
    val coarse = kmeansOn(e, k = kc, iters = 2)
    // level 1: one √k-row broadcast fold routes every vector to a
    // coarse cell (same rounded-argmax discipline as annIvfAssign)
    val asgc = graft.CachePins.pin(nearestCentroid(e.select(col("vec_id"), col("v")), coarse)
      .select(col("vec_id"), col("v"), col("c_id").as("cc"))
      // one shuffle establishes hashpartitioning(cc); the seed window
      // and BOTH fine-assign equi-joins then reuse it, and the pin
      // keeps the fat vector column columnar across those consumers
      .repartition(col("cc")))
    // level 2: m fine seeds per coarse cell (the m lowest vec_ids;
    // fid = cc·m + rank−1 keeps ids disjoint and cc-recoverable),
    // one Lloyd refinement, then the final assignment — all three
    // joins are equi-joins ON cc, shuffle-partitioned, never broadcast
    val ws = Window.partitionBy(col("cc")).orderBy(col("vec_id"))
    val fseed = asgc.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= m)
      .select(col("cc"), (col("cc") * m + col("rn") - 1).cast("long").as("fid"),
        col("v").as("cv"))
    // the m fine centroids of a coarse cell travel as ONE array row
    // (kc rows total), and the nearest-fine argmax is a linear
    // higher-order fold per vector — no n×m row explosion and no
    // per-vector window sort, which is also the right shape at 10⁹
    // vectors (the fold is codegen-adjacent and shuffle-free once the
    // cc equi-join is co-located)
    def byCell(cents: DataFrame): DataFrame =
      cents.groupBy(col("cc")).agg(collect_list(struct(col("fid"), col("cv"))).as("fc"))
    def fineAssign(centsByCc: DataFrame): DataFrame =
      asgc.join(centsByCc, Seq("cc"))
        .withColumn("best", aggregate(col("fc"),
          struct(lit(Long.MaxValue).as("fid"), lit(-10.0).as("cos")),
          (acc, f) => {
            val c = round(cosine_sim(col("v"), f.getField("cv")), 4)
            when(c > acc.getField("cos") ||
              (c === acc.getField("cos") && f.getField("fid") < acc.getField("fid")),
              struct(f.getField("fid").as("fid"), c.as("cos"))).otherwise(acc)
          }))
        .select(col("vec_id"), col("v"), col("cc"),
          col("best.fid").as("fid"), col("best.cos").as("cos"))
    val fcen = fineAssign(byCell(fseed))
      .select(col("fid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("fid"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("fid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("cv"))
      .withColumn("cc", floor(col("fid") / lit(m)).cast("long"))
    val assigned = graft.CachePins.pin(fineAssign(byCell(fcen))
      .select(col("vec_id"), col("v"), col("fid").as("cell"), col("cos").as("ccos"))
      // partitioned by cell so the pair self-join below is co-located
      .repartition(col("cell")))
    // each unordered within-cell pair is scored once (a < b), then
    // both orientations feed the dominance test
    val pairs = assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosine_sim(col("a.v"), col("b.v")), 4) >= threshold)
      .select(col("a.vec_id").as("x"), col("a.ccos").as("cx"),
        col("b.vec_id").as("y"), col("b.ccos").as("cy"))
    val dominated = pairs
      .select(col("x").as("vec_id"), col("cx").as("c"), col("y").as("o"), col("cy").as("oc"))
      .union(pairs.select(col("y"), col("cy"), col("x"), col("cx")))
      .filter(col("oc") > col("c") ||
        (col("oc") === col("c") && col("o") < col("vec_id")))
      .groupBy(col("vec_id")).agg(min(col("o")).as("dup_of"))
    assigned.join(dominated, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        (col("ccos") + lit(0.0)).as("centroid_cos"),
        col("dup_of").isNull.as("is_kept"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[dedupSemantic]]: the same two-level chain —
    * the [[kmeansOracleSql]]-style coarse Lloyd chain with the SAME
    * data-scaled ⌈√k⌉ (k/kc/m enter only through the seed predicate
    * and the fid arithmetic, so the SQL computes them itself and
    * stays equivalent at every SF), per-coarse-cell fine seeding,
    * one fine Lloyd refinement joined ON the coarse cell, the
    * identical rounded-argmax assignments, within-fine-cell pair
    * scoring and the same dominance rule.
    */
  def dedupSemanticOracleSql(threshold: Double = 0.6): String = {
    def assign(cent: String, out: String): String =
      s"$out AS (SELECT vec_id, v, c_id FROM (\n" +
        "  SELECT e.vec_id, e.v, c.c_id,\n" +
        "    round(list_cosine_similarity(e.v, c.cv), 4) AS cos,\n" +
        "    row_number() OVER (PARTITION BY e.vec_id\n" +
        "      ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn\n" +
        s"  FROM e CROSS JOIN $cent c) WHERE rn = 1)"
    def recompute(asg: String, out: String): String =
      s"$out AS (SELECT c_id, list(cx ORDER BY pos) AS cv FROM (\n" +
        "  SELECT c_id, pos, avg(x) AS cx FROM (\n" +
        s"    SELECT c_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM $asg)\n" +
        "  GROUP BY c_id, pos) GROUP BY c_id)"
    def fineAssign(cents: String, out: String, keepCos: Boolean): String = {
      val cosCol = if (keepCos) ", cos" else ""
      s"$out AS (SELECT vec_id, v, cc, fid$cosCol FROM (\n" +
        "  SELECT a.vec_id, a.v, a.cc, f.fid,\n" +
        "    round(list_cosine_similarity(a.v, f.cv), 4) AS cos,\n" +
        "    row_number() OVER (PARTITION BY a.vec_id\n" +
        "      ORDER BY round(list_cosine_similarity(a.v, f.cv), 4) DESC, f.fid) AS rn\n" +
        s"  FROM asgc a JOIN $cents f ON a.cc = f.cc) WHERE rn = 1)"
    }
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      "kk AS (SELECT greatest(1, CAST(ceil(count(*) / 125.0) AS BIGINT)) AS k FROM e),\n" +
      "km AS (SELECT k, greatest(1, CAST(ceil(sqrt(k)) AS BIGINT)) AS kc,\n" +
      "  greatest(1, CAST(ceil(k * 1.0 / greatest(1, CAST(ceil(sqrt(k)) AS BIGINT))) AS BIGINT)) AS m FROM kk),\n" +
      "seed AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < (SELECT kc FROM km)),\n" +
      assign("seed", "asg1") + ",\n" +
      recompute("asg1", "cen1") + ",\n" +
      assign("cen1", "asg2") + ",\n" +
      recompute("asg2", "cen2") + ",\n" +
      // coarse routing (cc) + per-cc fine seeds at fid = cc*m + rank-1
      "asgc AS (SELECT vec_id, v, c_id AS cc FROM (\n" +
      "  SELECT e.vec_id, e.v, c.c_id,\n" +
      "    row_number() OVER (PARTITION BY e.vec_id\n" +
      "      ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.c_id) AS rn\n" +
      "  FROM e CROSS JOIN cen2 c) WHERE rn = 1),\n" +
      "fseed AS (SELECT cc, cc * km.m + rn - 1 AS fid, v AS cv FROM (\n" +
      "  SELECT cc, v, row_number() OVER (PARTITION BY cc ORDER BY vec_id) AS rn FROM asgc), km\n" +
      "  WHERE rn <= km.m),\n" +
      fineAssign("fseed", "fasg1", keepCos = false) + ",\n" +
      "fcen AS (SELECT fid, CAST(floor(fid / (SELECT m FROM km)) AS BIGINT) AS cc,\n" +
      "    list(cx ORDER BY pos) AS cv FROM (\n" +
      "  SELECT fid, pos, avg(x) AS cx FROM (\n" +
      "    SELECT fid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM fasg1)\n" +
      "  GROUP BY fid, pos) GROUP BY fid),\n" +
      fineAssign("fcen", "fin", keepCos = true) + ",\n" +
      s"""pairs AS (SELECT a.vec_id AS x, a.cos AS cx, b.vec_id AS y, b.cos AS cy
         |  FROM fin a JOIN fin b ON a.fid = b.fid AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= $threshold),
         |dom AS (SELECT vec_id, min(o) AS dup_of FROM (
         |  SELECT x AS vec_id, cx AS c, y AS o, cy AS oc FROM pairs
         |  UNION ALL SELECT y, cy, x, cx FROM pairs)
         |  WHERE oc > c OR (oc = c AND o < vec_id) GROUP BY vec_id)
         |SELECT fin.vec_id, fin.fid AS cell, round(fin.cos, 4) + 0.0 AS centroid_cos,
         |  dom.dup_of IS NULL AS is_kept, dom.dup_of
         |FROM fin LEFT JOIN dom USING (vec_id) ORDER BY fin.vec_id""".stripMargin
  }
}
