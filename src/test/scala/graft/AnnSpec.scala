package graft

import org.apache.spark.sql.functions._

import graft.similarity.Ann

class AnnSpec extends GraftSpec {

  test("brute-force top-k returns k ranked neighbors per query") {
    val r = Ann.annBruteforceTopk(spark, sf).cache()
    val perQuery = r.groupBy(col("q_id")).count().collect()
    assert(perQuery.length === 5)
    perQuery.foreach(row => assert(row.getLong(1) === Ann.TopK))
    // rank 1 has the maximum cos within each query
    val byQ = r.collect().groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.head.getAs[Double]("cos") === rows.map(_.getAs[Double]("cos")).max)
      // ranks are 1..k with non-increasing cos
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq === (1L to Ann.TopK))
      assert(sorted.sliding(2).forall(p =>
        p.head.getAs[Double]("cos") >= p.last.getAs[Double]("cos")))
    }
  }

  test("LSH top-k results all share the query's bucket and appear in brute-force order") {
    val lsh = Ann.annLshTopk(spark, sf).collect()
    assert(lsh.nonEmpty)
    val buckets = lsh.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.map(_.getAs[String]("bucket")).toSet)
    buckets.foreach { case (_, bs) => assert(bs.size === 1) } // one bucket per query
  }

  test("derived plane count pins the LSH block-size law") {
    // law: p is the smallest plane count with 2^p >= ceil(n/target),
    // clamped to [3, 64] — so mean block size n/2^p is bounded by
    // LshTargetBlock whenever the floor clamp isn't active, and pair
    // work stays ~n*target/2 (linear) at any corpus size. The former
    // fixed p=3 grew pair work n^2/8 (the r10 30x cap-breaker).
    val t = Ann.LshTargetBlock.toLong
    assert(Ann.derivedPlanes(1L) === 3)
    assert(Ann.derivedPlanes(8 * t) === 3) // floor clamp boundary
    assert(Ann.derivedPlanes(8 * t + 1) === 4) // first growth step
    for (n <- Seq(500L, 2000L, 20000L, 60000L, 1000000L, 1000000000L, Long.MaxValue / 2)) {
      val p = Ann.derivedPlanes(n)
      assert(p >= 3 && p <= 64)
      val q = (n + t - 1) / t
      if (p < 64) assert(q <= (1L << p), s"block bound violated at n=$n")
      if (p > 3) assert(q > (1L << (p - 1)), s"p not minimal at n=$n")
    }
    // and the JVM law matches the oracle SQL's printf('%b') bit-length
    // formulation by construction: both are ceil(log2(q)) in integer
    // arithmetic — cross-engine equality is what CORRECTNESS checks.
  }

  test("random hyperplane buckets are deterministic and well-formed") {
    val a = Ann.randomHyperplaneBucket(spark, sf).orderBy("vec_id").collect()
    val b = Ann.randomHyperplaneBucket(spark, sf).orderBy("vec_id").collect()
    assert(a.sameElements(b))
    assert(a.forall(_.getAs[String]("rh_bucket").matches("[01]{8}")))
    // planes actually split the space: more than one bucket in use
    assert(a.map(_.getAs[String]("rh_bucket")).toSet.size > 1)
  }

  test("vec_norms: unit-ish vectors have l2 in a sane range and dim 64") {
    val r = Ann.vecNorms(spark, sf).collect()
    assert(r.forall(_.getAs[Long]("dim") === 64L))
    r.foreach { row =>
      val l2 = row.getAs[Double]("l2_norm")
      assert(l2 > 0 && l2 < 100)
      assert(row.getAs[Double]("vmin") <= row.getAs[Double]("vmax"))
    }
  }

  test("k-means: deterministic, k centroids of full dimension, assignments stabilize") {
    val c1 = Ann.kmeans(spark, sf, k = 4, iters = 2).orderBy("c_id").collect()
    val c2 = Ann.kmeans(spark, sf, k = 4, iters = 2).orderBy("c_id").collect()
    assert(c1.length === 4)
    assert(c1.forall(_.getSeq[Double](1).length === 64))
    assert(c1.map(_.getLong(0)).toSeq === c2.map(_.getLong(0)).toSeq)
    c1.zip(c2).foreach { case (a, b) => assert(a.getSeq[Double](1) === b.getSeq[Double](1)) }
  }

  test("vec_quantize: codes span [0, 255] with the extremes hit exactly") {
    val r = Ann.vecQuantize(spark, sf).collect()
    r.foreach { row =>
      assert(row.getAs[Long]("code_min") === 0L)   // x == lo maps to 0
      assert(row.getAs[Long]("code_max") === 255L) // x == hi maps to 255
    }
  }

  test("ivf incremental: counts conserve the corpus split and fits are sane") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val nDelta = e.filter(col("vec_id") % 10 === 0).count()
    val nBase = e.count() - nDelta
    val r = Ann.annIvfIncremental(spark, sf).collect()
    // every vector lands in exactly one cell, on its own side
    assert(r.map(_.getAs[Long]("n_base")).sum === nBase)
    assert(r.map(_.getAs[Long]("n_delta")).sum === nDelta)
    r.foreach { row =>
      val share = row.getAs[Double]("delta_share")
      assert(share >= 0.0 && share <= 1.0)
      // cosine means stay in [-1, 1]; fit_drop defined only when both
      // sides populate the cell
      Seq("base_fit", "delta_fit").foreach { c =>
        if (!row.isNullAt(row.fieldIndex(c))) {
          val f = row.getAs[Double](c); assert(f >= -1.0 && f <= 1.0)
        }
      }
      if (!row.isNullAt(row.fieldIndex("base_fit")) &&
          !row.isNullAt(row.fieldIndex("delta_fit"))) {
        val drop = row.getAs[Double]("fit_drop")
        assert(math.abs(drop -
          (row.getAs[Double]("base_fit") - row.getAs[Double]("delta_fit"))) < 1e-9)
      }
    }
    // the frozen-centroid contract: cells are exactly the base labels
    // (label-seeded centroids), so the delta never creates a new cell
    val labels = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("label")).distinct().count()
    assert(r.length <= labels)
  }

  test("dedup_semantic's pin leaves later vec_* broadcast sides on the testdata scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    CachePins.scoped {
      Ann.dedupSemantic(spark, sf)
      val plan = Ann.vecCosineHist(spark, sf).queryExecution.optimizedPlan
      val sides = plan.collect { case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
          case (h, side) if h.exists(_.strategy.contains(BROADCAST)) => side
        }
      }.flatten
      assert(sides.nonEmpty, plan.treeString)
      sides.foreach { side =>
        val leaves = side.collectLeaves()
        assert(leaves.exists(_.isInstanceOf[LogicalRelation]), side.treeString)
        assert(!leaves.exists(_.isInstanceOf[InMemoryRelation]), side.treeString)
      }
    }
  }
}
