package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** Gates for MaxScore-pruned BM25 serving (InvertedIndex.bm25MaxScore):
  * the pruned plan equals the unpruned one bit-for-bit through every
  * maintenance state (fresh build, post-upsert, pending tombstones,
  * post-vacuum), and the impacts sidecar keeps its bound contract (exact
  * after add-merge and after vacuum's refresh; valid always). */
class Bm25MaxScoreSpec extends SparkSpecBase with Matchers {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("q_bm25_maxscore equals q_bm25_indexed row-for-row") {
    rows(InvertedIndex.bm25MaxScore(spark, sfDir)) shouldBe
      rows(InvertedIndex.bm25Indexed(spark, sfDir))
  }

  test("pruning engages on this corpus: a strict essential subset, a smaller rank input") {
    val layout = InvertedIndex.ensure(spark, sfDir)
    val (essential, _) = InvertedIndex.maxScorePlan(spark, layout)
    // measured precondition, stable across SFs by the corpus's construction
    // (the three query terms' ubs are well-separated); if a corpus change
    // equalizes them, the algorithm legitimately falls back to scoring all
    // terms and only THIS diagnostic — not correctness — should fail
    essential.size should be < graft.operators.TextOps.Bm25Terms.size
    essential should not be empty
  }

  test("term generality: the 4-term query set serves exactly through both plans") {
    val layout = InvertedIndex.ensure(spark, sfDir)
    rows(InvertedIndex.maxScorePlan(spark, layout,
        terms = InvertedIndex.Bm25Terms2)._2) shouldBe
      rows(InvertedIndex.bm25Over(spark, layout,
        terms = InvertedIndex.Bm25Terms2))
    rows(InvertedIndex.bm25Query2(spark, sfDir)) should not be empty
  }

  test("maxscore stays exact through upsert (bounds max/min-merged exactly)") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "maxscore-upsert")
    val newDocs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < InvertedIndex.UpsertSrcCount)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    InvertedIndex.upsertDocs(spark, layout, newDocs)
    rows(InvertedIndex.maxScorePlan(spark, layout)._2) shouldBe
      rows(InvertedIndex.bm25Over(spark, layout))
    // the add-merge is exact: stored (tf_max, dl_min) equal a from-scratch
    // aggregation over the grown postings for the query terms
    val stored = spark.read.parquet(
        java.nio.file.Paths.get(layout.dataPath).getParent.resolve("impacts").toString)
      .filter(col("w").isin(graft.operators.TextOps.Bm25Terms: _*))
      .select(col("w"), col("tf_max"), col("dl_min")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val truth = spark.read.parquet(layout.dataPath)
      .filter(col("w").isin(graft.operators.TextOps.Bm25Terms: _*))
      .groupBy(col("w")).agg(max(col("tf")).as("tf_max"),
        min(col("dl")).as("dl_min")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    stored shouldBe truth
  }

  test("maxscore stays exact under pending tombstones and after vacuum") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "maxscore-delete")
    val dead = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 2).select(col("doc_id"))
    InvertedIndex.deleteDocs(spark, layout, dead)
    // tombstones pending: bounds are valid-but-stale upper bounds and the
    // corrected df feeds the ubs — still bit-identical to the masked plan
    rows(InvertedIndex.maxScorePlan(spark, layout)._2) shouldBe
      rows(InvertedIndex.bm25Over(spark, layout))
    InvertedIndex.vacuum(spark, layout)
    rows(InvertedIndex.maxScorePlan(spark, layout)._2) shouldBe
      rows(InvertedIndex.bm25Over(spark, layout))
  }

  test("refreshImpacts tightens stale bounds exactly under pending tombstones; serving is bound-invariant; the audit accepts the tighter bounds") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "maxscore-refresh")
    // force the impacts sidecar into existence BEFORE the delete so the
    // staleness being refreshed is real
    rows(InvertedIndex.maxScorePlan(spark, layout)._2)
    val dead = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 1).select(col("doc_id"))
    InvertedIndex.deleteDocs(spark, layout, dead)
    def candidateVolume(): Long = {
      val (essential, _) = InvertedIndex.maxScorePlan(spark, layout)
      spark.read.parquet(layout.dataPath)
        .filter(col("w").isin(essential: _*))
        .join(dead, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).distinct().count()
    }
    val before = rows(InvertedIndex.maxScorePlan(spark, layout)._2)
    val volBefore = candidateVolume()
    InvertedIndex.refreshImpacts(spark, layout)
    // serving is exact under any VALID bound — identical before/after
    rows(InvertedIndex.maxScorePlan(spark, layout)._2) shouldBe before
    // tighter bounds can only shrink (never grow) the candidate set
    candidateVolume() should be <= volBefore
    // the refreshed bounds EQUAL the live-posting extremes in every
    // touched bucket — exactness, not just validity
    val live = spark.read.parquet(layout.dataPath)
      .join(dead, Seq("doc_id"), "left_anti")
      .groupBy(col("w")).agg(max(col("tf")).as("etf"), min(col("dl")).as("edl"))
    val impRoot = java.nio.file.Paths.get(layout.dataPath).getParent
      .resolve("impacts").toString
    val drift = spark.read.parquet(impRoot)
      .select(col("w"), col("tf_max"), col("dl_min"))
      .join(live, Seq("w"))
      .filter(col("tf_max") =!= col("etf") || col("dl_min") =!= col("edl"))
    // only UNTOUCHED buckets may keep stale (still-valid) bounds: every
    // drifted term must live in a bucket the dead docs never touched
    val touched = spark.read.parquet(layout.dataPath)
      .join(dead, Seq("doc_id"), "left_semi")
      .select(col("tbucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    drift.select(InvertedIndex.bucketCol(col("w")).as("b")).distinct()
      .collect().map(_.getLong(0)).foreach { b =>
      withClue(s"touched bucket $b kept a stale bound: ") {
        touched should not contain b
      }
    }
    // the masked-postings audit invariant accepts the tighter bounds
    InvertedIndex.auditFrame(spark, layout).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
      .apply("impacts_bound_postings") shouldBe 0L
  }

  test("two first readers backfilling the impacts sidecar at once both serve exact results; the audit stays clean") {
    val layout = InvertedIndex.cloneIndex(spark, sfDir, "maxscore-race")
    val root = java.nio.file.Paths.get(layout.dataPath).getParent
    Maintenance.deleteRecursively(root.resolve("impacts"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = try {
      (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[(Long, Double)]] {
        def call(): Seq[(Long, Double)] = {
          barrier.await()
          rows(InvertedIndex.maxScorePlan(spark, layout)._2)
        }
      })).map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
    results(0) shouldBe results(1)
    results(0) shouldBe rows(InvertedIndex.bm25Over(spark, layout))
    InvertedIndex.auditFrame(spark, layout).collect()
      .map(r => (r.getString(1), r.getLong(2))).filter(_._2 != 0L) shouldBe empty
    // the losing publisher discarded its stage
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("impacts")).toSeq shouldBe Seq("impacts")
    finally s.close()
  }
}
