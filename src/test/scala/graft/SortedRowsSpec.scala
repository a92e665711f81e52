package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.functions.BroadcastMapLookup
import graft.ops.{Curation, Dedup, TextAnalysis}
import graft.queries.Catalog

/**
 * The per-row text queries that range-partition their input on the sort
 * key (`ta_features`, `ta_extras`, `ta_pii`, `ta_repetition`,
 * `ta_keywords`, `dd_spanrm`) return
 * the rows, in the order, of their single-sort formulation: the op over
 * the raw input with one global `orderBy` on top. Those formulations are
 * kept here as references, `tfidfKeywords` with its attribute-fed
 * `posexplode` included.
 */
class SortedRowsSpec extends SparkSuite {
  import spark.implicits._

  object Reference {
    def docs(spark: SparkSession, dir: String): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet")

    def taFeatures(spark: SparkSession, dir: String): DataFrame =
      TextAnalysis.features(docs(spark, dir), "doc_id", "text")
        .drop("n_subwords")
        .orderBy("doc_id")

    def taExtras(spark: SparkSession, dir: String): DataFrame =
      docs(spark, dir).select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
        .orderBy("doc_id")

    def taRepetition(spark: SparkSession, dir: String): DataFrame = {
      val d = docs(spark, dir)
      val doubled = d.filter(col("doc_id") % 60 === 0)
        .withColumn("doc_id", col("doc_id") + 300000)
        .withColumn("text", concat(col("text"), lit(" "), col("text")))
      val multiline = d.filter(col("doc_id") % 75 === 0)
        .withColumn("doc_id", col("doc_id") + 400000)
        .withColumn("text", concat(col("text"), lit("\n"), col("text")))
      Curation.repetitionMetrics(
        d.unionByName(doubled).unionByName(multiline), "doc_id", "text")
        .orderBy("doc_id")
    }

    /** `TextAnalysis.tfidfKeywords` with the top-k array bound to an
     * attribute before the `posexplode`. */
    def tfidfKeywords(df: DataFrame, idCol: String, textCol: String, k: Int,
        idf: Map[String, Double]): DataFrame = {
      val idfBcast = BroadcastMapLookup.broadcastMap(df.sparkSession, idf)
      val scored = transform(
        TextAnalysis.termFreqArray(TextAnalysis.tokensLower(col(textCol))), s =>
          struct(
            (-(s.getField("tf") *
              coalesce(BroadcastMapLookup.lookup(s.getField("token"), idfBcast),
                lit(0.0)))).as("n"),
            s.getField("token").as("token")))
      df.filter(col(textCol).isNotNull)
        .select(col(idCol), slice(array_sort(scored), 1, k).as("__top"))
        .select(col(idCol), posexplode(col("__top")).as(Seq("__r", "__kw")))
        .select(col(idCol), (col("__r") + 1).cast("int").as("rank"),
          col("__kw.token").as("token"),
          round(-col("__kw.n"), 6).as("score"))
    }

    def taKeywords(spark: SparkSession, dir: String): DataFrame = {
      val d = docs(spark, dir)
      tfidfKeywords(d, "doc_id", "text", 3, TextAnalysis.idfMap(d, "doc_id", "text"))
        .orderBy("doc_id", "rank")
    }

    def taPii(spark: SparkSession, dir: String): DataFrame = {
      val planted = docs(spark, dir).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 30 === 0,
          lit(" contact bob123@mail-example.org now")).otherwise(lit("")),
        when(col("doc_id") % 45 === 0,
          lit(" from 192.168.1.42 call +1-555-867-5309")).otherwise(lit("")))
        .as("text"))
      Curation.redactPii(planted, "doc_id", "text").orderBy("doc_id")
    }

    def ddSpanrm(spark: SparkSession, dir: String): DataFrame =
      Dedup.removeDupSpans(docs(spark, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id")
  }

  type Query = (SparkSession, String) => DataFrame

  val queries: Seq[(String, Query, Query)] = Seq(
    ("ta_features", Catalog.taFeatures _, Reference.taFeatures _),
    ("ta_extras", Catalog.taExtras _, Reference.taExtras _),
    ("ta_pii", Catalog.taPii _, Reference.taPii _),
    ("ta_repetition", Catalog.taRepetition _, Reference.taRepetition _),
    ("ta_keywords", Catalog.taKeywords _, Reference.taKeywords _),
    ("dd_spanrm", Catalog.ddSpanrm _, Reference.ddSpanrm _))

  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Partition counts of the plan's range exchanges, by shuffle origin. */
  def rangeExchanges(df: DataFrame): Seq[(String, Int)] = plan(df).collect {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
      (e.shuffleOrigin.toString, e.outputPartitioning.numPartitions)
  }

  /** Partition counts of the plan's checkpointed (`localCheckpoint`) scans. */
  def checkpointScans(df: DataFrame): Seq[Int] = plan(df).collect {
    case s: RDDScanExec => s.rdd.getNumPartitions
  }

  def assertSameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, name)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty, s"$name: empty output proves nothing")
    assert(g.size === w.size, s"$name: row count")
    val firstDiff = g.zip(w).indexWhere { case (a, b) => a != b }
    assert(firstDiff === -1,
      s"$name: row $firstDiff differs: ${g.lift(firstDiff)} vs ${w.lift(firstDiff)}")
  }

  test("sorted text queries equal their single-sort formulation on sf0.001, " +
      "row for row and in order") {
    val dir = SparkSuite.Sf0001Dir
    for ((name, q, ref) <- queries)
      assertSameRows(name, q(spark, dir), ref(spark, dir))
  }

  test("sorted text queries on a 7-partition input: the range exchange is " +
      "as wide as the input, and rows and order are unchanged") {
    val dir = Files.createTempDirectory("sorted-rows").toString
    Catalog.docs(spark, SparkSuite.Sf0001Dir)
      .repartition(7).write.parquet(s"$dir/documents.parquet")
    // one split per file: an open cost of 128 MiB packs no two files together
    val openCost = "spark.sql.files.openCostInBytes"
    val saved = spark.conf.getOption(openCost)
    spark.conf.set(openCost, 128L << 20)
    try {
      assert(Catalog.docs(spark, dir).rdd.getNumPartitions === 7)
      assert(spark.sparkContext.defaultParallelism < 7)
      for ((name, q, ref) <- queries) {
        val got = q(spark, dir)
        // ta_repetition unions three 7-partition branches of the docs
        val width = if (name == "ta_repetition") 21 else 7
        if (name == "dd_spanrm") {
          // the range exchange runs inside the op's checkpoints
          val scans = checkpointScans(got)
          assert(scans.nonEmpty && scans.forall(_ == width), s"$name: $scans")
        } else
          assert(rangeExchanges(got) === Seq((REPARTITION_BY_NUM.toString, width)), name)
        assertSameRows(name, got, ref(spark, dir))
      }
    } finally saved.fold(spark.conf.unset(openCost))(spark.conf.set(openCost, _))
  }

  test("tfidfKeywords with the top-k expression fed straight to posexplode " +
      "equals the attribute-fed formulation, empty, blank and NULL text included") {
    val df = Seq[(Long, String)]((1L, "a a b c"), (2L, ""), (3L, "   "),
      (4L, null), (5L, "b"), (6L, "\t")).toDF("doc_id", "text")
    val idf = TextAnalysis.idfMap(df, "doc_id", "text")
    def rows(d: DataFrame) = d.orderBy("doc_id", "rank").collect().toSeq
    val got = rows(TextAnalysis.tfidfKeywords(df, "doc_id", "text", k = 3,
      idf = Some(idf)))
    assert(got === rows(Reference.tfidfKeywords(df, "doc_id", "text", 3, idf)))
    // NULL text is dropped; empty and blank text trim to "" and split into
    // the single token "", which is that row's one keyword
    assert(got.map(_.getLong(0)).distinct === Seq(1L, 2L, 3L, 5L, 6L))
    assert(got.filter(r => Set(2L, 3L, 6L)(r.getLong(0))).map(_.getString(2))
      === Seq("", "", ""))
  }
}
