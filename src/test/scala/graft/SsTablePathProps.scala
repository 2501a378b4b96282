package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.syncer.SsTablePath

/** The SSTable path codec round-trips every key it can format. */
object SsTablePathProps extends Properties("graft.syncer.SsTablePath") {

  // each sample is one Spark query over a list of files
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = TestSession.spark

  private val fileGen: Gen[(String, Long, Long, Boolean)] = for {
    cf <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    node <- Gen.chooseNum(0L, Long.MaxValue)
    generation <- Gen.chooseNum(0L, Long.MaxValue)
    temp <- Gen.oneOf(true, false)
  } yield (cf, node, generation, temp)

  property("parse(format(x)) == x; the temp predicate agrees with parsed is_temp") =
    forAll(Gen.listOf(fileGen)) { files =>
      val s = spark
      import s.implicits._
      val key = SsTablePath.format(col("cf"), col("node_id"), col("generation"), col("is_temp"))
      val back = files.toDF("cf", "node_id", "generation", "is_temp")
        .select(key.as("key"))
        .select(SsTablePath.parse(col("key")) :+ SsTablePath.isTemp(col("key")): _*)
        .as[(String, Long, Long, Long, Boolean, Boolean)].collect().toSeq
      back == files.map { case (cf, node, g, t) => (cf, node, g % SsTablePath.Shards, g, t, t) }
    }
}
