package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Gates for the serving-tier keymap cache (ServingCache +
  * IndexCatalog.fetchByIdsServing): identical rows to the stateless
  * fetch, and — the part a cache can get WRONG — staleness: any
  * maintenance write (upsert move, tombstone, vacuum) must be visible
  * to the very next cached request, enforced by the filesystem stamp,
  * never by a TTL. */
class ServingCacheSpec extends SparkSpecBase with Matchers {

  private def buildIndex(base: String, name: String): Unit = {
    import spark.implicits._
    val data = (0 until 50).map { i =>
      (i.toLong, Array(i.toFloat, 1f), i % 3, (i % 5).toLong)
    }.toDF("vec_id", "embedding", "label", "bucket")
    IndexCatalog.createIfAbsent(spark, base,
      IndexCatalog.IndexDescriptor(name, 2, "cosine"), data,
      partitionCols = Seq("bucket")) shouldBe true
    IndexCatalog.ensureKeymap(spark, base, name, "vec_id")
  }

  test("cached fetch equals the stateless fetch; maintenance invalidates by stamp, not TTL") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-scache").toString
    buildIndex(base, "sc")
    val ids = Seq(3L, 17L, 42L, 99999L).toDF("vec_id")
    def hot() = IndexCatalog.fetchByIdsServing(spark, base, "sc", ids)
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    def cold() = IndexCatalog.fetchByIds(spark, base, "sc", ids)
      .orderBy(col("vec_id")).collect().map(_.toString).toSeq
    hot() shouldBe cold()
    // the cache is primed; a second call must reuse the SAME frame
    val km1 = ServingCache.keymap(spark, base, "sc")
    ServingCache.keymap(spark, base, "sc") should be theSameInstanceAs km1
    // maintenance moves key 3 from bucket 3 to bucket 4 — the keymap
    // shards rewrote, so the stamp moves and the NEXT cached request
    // serves the new location with no explicit invalidation call
    IndexCatalog.upsertInto(spark, base, "sc",
      Seq((3L, Array(8f, 8f), 0, 4L)).toDF("vec_id", "embedding", "label", "bucket"),
      "vec_id")
    ServingCache.keymap(spark, base, "sc") shouldNot be theSameInstanceAs km1
    hot() shouldBe cold()
    hot().exists(_.contains("8.0")) shouldBe true // the moved row, new payload
    // tombstones hide through load() semantics — cache uninvolved, but
    // the cached path must agree with the stateless one immediately
    IndexCatalog.tombstone(spark, base, "sc", Seq(17L).toDF("vec_id"))
    hot().count(_.contains("17")) shouldBe 0
    hot() shouldBe cold()
    // vacuum compacts the deleted key's entries (a keymap write): stamp
    // moves again, both paths still agree
    IndexCatalog.vacuumTombstones(spark, base, "sc")
    hot() shouldBe cold()
    ServingCache.invalidate(base, "sc")
  }

  test("lexical serving mode: resident dict/stats equal the stateless read; an upsert's df/n change is visible to the very next request") {
    val layout = InvertedIndex.cloneIndexNamed(
      spark, sfDir, InvertedIndex.IndexName, "word", "scache-lex")
    def hot() = InvertedIndex.bm25Over(spark, layout, serving = true)
      .collect().map(_.toString).toSeq
    def cold() = InvertedIndex.bm25Over(spark, layout)
      .collect().map(_.toString).toSeq
    hot() shouldBe cold()
    // primed: a repeat request reuses the SAME resident frames
    val d1 = ServingCache.frame(spark,
      java.nio.file.Paths.get(layout.dictPath))
    ServingCache.frame(spark,
      java.nio.file.Paths.get(layout.dictPath)) should be theSameInstanceAs d1
    // an upsert merges dict buckets (dynamic overwrite) and swaps stats:
    // both stamps move, so the NEXT serving request scores with the new
    // df/n/avgdl — never a TTL, never an explicit invalidation
    val twins = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < InvertedIndex.UpsertSrcCount)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset).as("doc_id"),
        col("text"))
    InvertedIndex.upsertDocs(spark, layout, twins)
    hot() shouldBe cold()
    // deletes: stats swap at delete time (stamp moves), postings masked
    // on both paths — still equal under pending tombstones
    import spark.implicits._
    InvertedIndex.deleteDocs(spark, layout, Seq(0L, 7L).toDF("doc_id"))
    hot() shouldBe cold()
    // MaxScore's serving mode rides the same frames and must stay exact
    InvertedIndex.maxScorePlan(spark, layout, serving = true)._2
      .collect().map(_.toString).toSeq shouldBe cold()
    ServingCache.invalidateDir(java.nio.file.Paths.get(layout.dictPath))
    ServingCache.invalidateDir(java.nio.file.Paths.get(layout.statsPath))
    ServingCache.invalidateDir(
      java.nio.file.Paths.get(InvertedIndex.impactsPathOf(layout)))
  }

  test("a keymap-less index falls back to the semi-join scan without writing anything") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-scache-nokm").toString
    val data = (0 until 10).map(i => (i.toLong, Array(i.toFloat, 1f), 0, (i % 2).toLong))
      .toDF("vec_id", "embedding", "label", "bucket")
    IndexCatalog.createIfAbsent(spark, base,
      IndexCatalog.IndexDescriptor("nk", 2, "cosine"), data,
      partitionCols = Seq("bucket")) shouldBe true
    IndexCatalog.fetchByIdsServing(spark, base, "nk", Seq(1L, 7L).toDF("vec_id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 7L)
    IndexCatalog.hasKeymap(base, "nk") shouldBe false
  }

  test("isTornRead recognizes each torn-read shape, nested or not, and nothing else") {
    ServingCache.isTornRead(new java.io.FileNotFoundException("part-0.parquet")) shouldBe true
    ServingCache.isTornRead(new java.nio.file.NoSuchFileException("part-0.parquet")) shouldBe true
    ServingCache.isTornRead(new RuntimeException(
      "[FAILED_READ_FILE.FILE_NOT_EXIST] File part-0.parquet does not exist")) shouldBe true
    ServingCache.isTornRead(new RuntimeException("job aborted",
      new RuntimeException("task failed",
        new java.nio.file.NoSuchFileException("part-0.parquet")))) shouldBe true
    ServingCache.isTornRead(new RuntimeException("job aborted",
      new IllegalStateException("not a missing file"))) shouldBe false
  }
}
