package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

class MaintenanceSpec extends SparkSpecBase with Matchers {

  test("compaction collapses fragmented partitions, leaves compact ones untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    // partition a: written in 4 slices (4 part files); partition b: 1 file
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"row$i", "a")).toDF("id", "payload", "part")
        .write.mode("append").partitionBy("part").parquet(dir)
    }
    Seq((100L, "rowb", "b")).toDF("id", "payload", "part")
      .write.mode("append").partitionBy("part").parquet(dir)

    val before = Maintenance.fileCounts(dir, Seq("part"))
    before("part=a") shouldBe 4
    before("part=b") shouldBe 1
    val contentBefore = spark.read.parquet(dir).collect().map(_.toString).sorted

    val bFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "part=b"))
      .iterator().next()
    val bMtime = java.nio.file.Files.getLastModifiedTime(bFile).toMillis

    Maintenance.compactPartitions(spark, dir, Seq("part")) shouldBe 1

    val after = Maintenance.fileCounts(dir, Seq("part"))
    after("part=a") shouldBe 1
    after("part=b") shouldBe 1
    // content identical, untouched partition file untouched
    spark.read.parquet(dir).collect().map(_.toString).sorted shouldBe contentBefore
    java.nio.file.Files.getLastModifiedTime(bFile).toMillis shouldBe bMtime
    // second run is a no-op
    Maintenance.compactPartitions(spark, dir, Seq("part")) shouldBe 0

    // write-then-swap leaves no temp dir and no orphaned .crc sidecars:
    // every .crc in the rewritten partition matches a live parquet file
    val aDir = java.nio.file.Paths.get(dir, "part=a")
    java.nio.file.Files.exists(aDir.resolve(".compact-tmp")) shouldBe false
    val s = java.nio.file.Files.list(aDir)
    val names = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next().getFileName.toString
      buf.toSeq
    } finally s.close()
    names.filter(_.endsWith(".parquet.crc")).foreach { crc =>
      names should contain(crc.stripPrefix(".").stripSuffix(".crc"))
    }
  }

  test("a crash between manifest commit and cleanup rolls forward without duplicating rows") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths => P}
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/t"
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"row$i", "a")).toDF("id", "payload", "part")
        .write.mode("append").partitionBy("part").parquet(dir)
    }
    val content = spark.read.parquet(dir).collect().map(_.toString).sorted
    val aDir = P.get(dir, "part=a")

    // simulate the crash window: compacted copy fully written to the tmp
    // dir and the manifest committed, but no move/delete ran
    val tmp = aDir.resolve(".compact-tmp")
    spark.read.parquet(aDir.toString).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val compactedName = {
      val s = F.list(tmp)
      try {
        var n: String = null
        val it = s.iterator()
        while (it.hasNext) { val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) n = f.getFileName.toString }
        n
      } finally s.close()
    }
    val originals = {
      val s = F.list(aDir)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) buf += f.getFileName.toString }
        buf.toSeq
      } finally s.close()
    }
    F.writeString(aDir.resolve(".compact-manifest"),
      (s"C $compactedName" +: originals.map("O " + _)).mkString("", "\n", "\n"))
    // a row appended AFTER the crash must survive recovery (it is not in
    // the manifest's delete list)
    Seq((99L, "late", "a")).toDF("id", "payload", "part")
      .write.mode("append").partitionBy("part").parquet(dir)

    // next maintenance run replays the manifest before compacting
    Maintenance.compactPartitions(spark, dir, Seq("part"))

    F.exists(aDir.resolve(".compact-manifest")) shouldBe false
    F.exists(tmp) shouldBe false
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    after shouldBe (content :+ Seq((99L, "late", "a")).toDF("id", "payload", "part")
      .collect().map(_.toString).head).sorted
  }

  test("incremental aggregate refresh equals the flat aggregate over all history") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.EventOps.incrAgg(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(38,18)")).cast("double"), 3)
          .as("sum_value"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe full.toSeq
    // the cutoff genuinely splits the data — both the stored MV and the
    // delta contribute rows, so the merge path is exercised, not degenerate
    val cutoff = to_timestamp(lit(graft.operators.EventOps.IncrAggCutoff))
    val ev = graft.Tables.events(spark, sfDir)
    ev.filter(col("ts") < cutoff).count() should be > 0L
    ev.filter(col("ts") >= cutoff).count() should be > 0L
  }

  private def entries(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next().getFileName.toString
      buf.sorted.toSeq
    } finally s.close()
  }

  /** `store` (id, p) holds ids 1, 2, 3 in three partitions; the merge
    * touches the first two and keeps only id 2, so the first partition's
    * directory `emptiedDir` must go, id 2 must be rewritten and id 3's
    * untouched partition must stay. `touched` may type the partition
    * values differently from the store's column. */
  private def emptiedPartitionRemoved(store: org.apache.spark.sql.DataFrame,
                                      touched: Seq[Any],
                                      emptiedDir: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-overwrite").resolve("t")
    store.write.partitionBy("p").parquet(dir.toString)
    java.nio.file.Files.exists(dir.resolve(emptiedDir)) shouldBe true
    Maintenance.overwritePartitions(dir, Seq("p"), touched.map(Seq(_)),
      store.filter(col("id") === 2L))
    java.nio.file.Files.exists(dir.resolve(emptiedDir)) shouldBe false
    spark.read.parquet(dir.toString).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)
  }

  test("the touched-partition overwrite removes an emptied partition for int, long, escaped and null values") {
    import spark.implicits._
    // an Int-typed column with Long touched values and the reverse: the
    // written-set membership must match across the two
    emptiedPartitionRemoved(Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "p"),
      Seq(1L, 2L), "p=1")
    emptiedPartitionRemoved(Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "p"),
      Seq(1, 2), "p=1")
    // Spark's own path escaping: 'a:b' lives in 'p=a%3Ab'
    emptiedPartitionRemoved(Seq((1L, "a:b"), (2L, "c"), (3L, "d")).toDF("id", "p"),
      Seq("a:b", "c"), "p=a%3Ab")
    // a null value lives in the default-partition directory
    emptiedPartitionRemoved(
      Seq((1L, null: String), (2L, "x"), (3L, "y")).toDF("id", "p"),
      Seq(null, "x"), "p=__HIVE_DEFAULT_PARTITION__")
  }

  test("a replace whose write throws leaves the old store intact and no stage behind") {
    import spark.implicits._
    val parent = java.nio.file.Files.createTempDirectory("graft-replace")
    val dest = parent.resolve("store")
    Seq(1L, 2L).toDF("id").write.parquet(dest.toString)
    intercept[IllegalStateException] {
      Maintenance.replace(dest) { stage =>
        Seq(9L).toDF("id").write.parquet(stage)
        throw new IllegalStateException("write failed")
      }
    }
    spark.read.parquet(dest.toString).as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
    entries(parent) shouldBe Seq("store")
    // a replace that completes swaps the new rows in, leaving nothing aside
    Maintenance.replace(dest)(Seq(7L).toDF("id").write.parquet(_))
    spark.read.parquet(dest.toString).as[Long].collect().toSeq shouldBe Seq(7L)
    entries(parent) shouldBe Seq("store")
  }

  test("a publish into an existing path stands down and keeps the first copy") {
    import spark.implicits._
    val parent = java.nio.file.Files.createTempDirectory("graft-publish")
    val dest = parent.resolve("store")
    // a concurrent builder publishes while this one is still writing: the
    // loser's rename finds the store and discards its own stage
    Maintenance.publishIfAbsent(dest) { stage =>
      Maintenance.publishIfAbsent(dest)(
        Seq(1L).toDF("id").write.mode("overwrite").parquet(_)) shouldBe true
      Seq(2L).toDF("id").write.mode("overwrite").parquet(stage)
    } shouldBe false
    spark.read.parquet(dest.toString).as[Long].collect().toSeq shouldBe Seq(1L)
    entries(parent) shouldBe Seq("store")
    // once published, a later call writes nothing
    Maintenance.publishIfAbsent(dest)(_ => fail("an existing store was rebuilt")) shouldBe false
    // a failed first build removes its stage and publishes nothing
    val other = parent.resolve("other")
    intercept[IllegalStateException] {
      Maintenance.publishIfAbsent(other)(_ => throw new IllegalStateException("write failed"))
    }
    entries(parent) shouldBe Seq("store")
  }
}
