package graft.sources

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max, xxhash64}

/** Table maintenance — the small-file problem. A long-running ingest
  * (streaming micro-batches, repeated upserts) accretes many small part
  * files per partition directory; at 100 TB the file-listing and
  * per-file open costs eventually dominate scans. Compaction rewrites
  * each oversized partition directory to one file, leaving compact
  * partitions untouched — the same touched-partitions-only discipline as
  * [[IndexCatalog.upsertInto]], so maintenance I/O is proportional to the
  * fragmentation, not the table.
  */
object Maintenance {

  /** Partition directories (relative partition spec path → file count),
    * one level per partition column. */
  private def partitionDirs(root: Path, depth: Int): Seq[Path] = {
    def walk(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else {
        val s = Files.list(p)
        try {
          val subdirs = s.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (subdirs.hasNext) {
            val c = subdirs.next()
            if (Files.isDirectory(c) && c.getFileName.toString.contains("="))
              buf ++= walk(c, d - 1)
          }
          buf.toSeq
        } finally s.close()
      }
    walk(root, depth)
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    } finally s.close()
  }

  /** Compact every partition directory holding more than `maxFiles` part
    * files down to one file. Returns the number of partitions rewritten.
    *
    * Crash-safe via a per-partition MANIFEST (the poor man's commit log a
    * bare Parquet directory allows): the compacted file lands in a hidden
    * `.compact-tmp` subdirectory (invisible to Spark scans) while the
    * originals are intact; then a manifest naming the compacted file(s)
    * and the originals-to-delete is atomically moved into place; only
    * then do the moves and deletes run, and the manifest is removed LAST.
    * Every run replays unfinished manifests first, so a crash at any
    * point either rolls forward (manifest present → finish the moves and
    * the listed deletes — and ONLY the listed deletes, so rows appended
    * after the crash are never touched) or rolls back (no manifest → a
    * stale tmp dir is discarded and the partition is untouched). Without
    * the manifest, a crash between landing the compacted copy and
    * deleting the originals would leave duplicate rows that NO later
    * compaction could remove — compaction merges files, it never dedups
    * rows. Compact partitions are never touched (asserted by mtime in the
    * spec). Real deployments run this under a table-format transaction;
    * the manifest reproduces the ordering such formats guarantee. */
  def compactPartitions(spark: SparkSession, tableDir: String,
                        partitionCols: Seq[String], maxFiles: Int = 1): Int = {
    val root = Paths.get(tableDir)
    require(Files.exists(root), s"no such table dir: $tableDir")
    // roll forward any compaction a previous crash left half-done BEFORE
    // deciding what is fragmented (a replayed partition may no longer be)
    partitionDirs(root, partitionCols.length).foreach(recoverPartition)
    val fragmented = partitionDirs(root, partitionCols.length)
      .map(d => d -> parquetFiles(d))
      .filter(_._2.length > maxFiles)
    if (fragmented.isEmpty) return 0
    // ONE Spark job rewrites every fragmented partition (the pre-r18 form
    // paid one read+coalesce(1)+write JOB per fragmented directory — with
    // ~30 buckets per store the per-job scheduling round-trips dominated
    // the compaction, measured in OPTIMIZATION_r18.md): scan exactly the
    // fragmented directories (basePath keeps the partition columns),
    // hash-repartition by the partition columns so each partition's rows
    // land in one task → one file per partition directory, and write the
    // whole compacted set into ONE hidden staging tree. The originals are
    // untouched while the staging write runs, so the per-partition
    // manifest protocol below is unchanged: each partition's compacted
    // file is moved into its own `.compact-tmp`, the manifest commits it,
    // and a crash at ANY point still rolls that partition forward or back
    // independently (a stale staging tree with no manifest is discarded
    // like any uncommitted `.compact-tmp`).
    val staging = root.resolve(".compact-staging")
    deleteRecursively(staging) // uncommitted work from a killed run
    spark.read.option("basePath", root.toString)
      .parquet(fragmented.map(_._1.toString): _*)
      .repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    fragmented.foreach { case (dir, files) =>
      val tmp = dir.resolve(".compact-tmp")
      deleteRecursively(tmp) // a stale no-manifest tmp is uncommitted work
      Files.createDirectories(tmp)
      val stagedDir = staging.resolve(root.relativize(dir))
      // a partition whose files held zero rows stages no output — the
      // manifest then lists only originals and the dir compacts to empty
      val compacted =
        if (Files.exists(stagedDir)) parquetFiles(stagedDir) else Seq.empty
      compacted.foreach { f =>
        Files.move(f, tmp.resolve(f.getFileName))
        val crc = f.resolveSibling("." + f.getFileName.toString + ".crc")
        if (Files.exists(crc)) Files.move(crc, tmp.resolve(crc.getFileName))
      }
      writeManifest(dir, compacted.map(_.getFileName.toString),
        files.map(_.getFileName.toString))
      finishCompaction(dir)
    }
    deleteRecursively(staging)
    fragmented.size
  }

  private val ManifestName = ".compact-manifest"

  /** Atomically publish the commit point: tmp-write then ATOMIC_MOVE. */
  private def writeManifest(dir: Path, compacted: Seq[String],
                            originals: Seq[String]): Unit = {
    val body = (compacted.map("C " + _) ++ originals.map("O " + _))
      .mkString("", "\n", "\n")
    val tmp = dir.resolve(ManifestName + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(ManifestName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Execute (or re-execute — every step is idempotent) the moves and
    * deletes a manifest records, removing the manifest last. */
  private def finishCompaction(dir: Path): Unit = {
    val manifest = dir.resolve(ManifestName)
    val tmp = dir.resolve(".compact-tmp")
    val lines = Files.readString(manifest).split("\n").filter(_.nonEmpty)
    lines.filter(_.startsWith("C ")).map(_.drop(2)).foreach { name =>
      val from = tmp.resolve(name)
      if (Files.exists(from)) {
        Files.move(from, dir.resolve(name))
        val crc = from.resolveSibling("." + name + ".crc")
        if (Files.exists(crc)) Files.move(crc, dir.resolve(crc.getFileName))
      }
      require(Files.exists(dir.resolve(name)),
        s"compaction manifest names a missing compacted file: $name in $dir")
    }
    lines.filter(_.startsWith("O ")).map(_.drop(2)).foreach { name =>
      Files.deleteIfExists(dir.resolve(name))
      Files.deleteIfExists(dir.resolve("." + name + ".crc"))
    }
    Files.delete(manifest)
    deleteRecursively(tmp)
  }

  /** Crash recovery: a manifest means the compacted file was fully
    * written and committed — roll the partition forward. No manifest
    * means nothing was committed — a leftover tmp dir is discarded by the
    * next compaction attempt and the originals stand. */
  private def recoverPartition(dir: Path): Unit =
    if (Files.exists(dir.resolve(ManifestName))) finishCompaction(dir)

  /** Recursive file-tree copy (REPLACE_EXISTING, so a retry after a
    * partial copy overwrites instead of throwing) — the index-clone
    * primitive the lifecycle queries use to work on a private copy of a
    * shared cached index. */
  private[graft] def copyTree(from: Path, to: Path): Unit = {
    import java.nio.file.StandardCopyOption
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.forEach { p =>
        val dest = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Depth-first recursive delete with the walk stream closed (shared by
    * every loser-cleanup / staging-discard site in graft). deleteIfExists
    * tolerates a concurrent cleaner racing on the same loser directory. */
  private[graft] def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val all = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  // ---- The store-write protocol. Every maintained artifact writes its
  // partitioned stores through exactly these three primitives:
  //  - touched-partition overwrite (materializeForOverwrite +
  //    commitOverwrite, or overwritePartitions for both halves): an
  //    incremental merge rewrites only the partitions it touched;
  //  - staged replace: a whole store re-derived (repair, stats swap);
  //  - publish-if-absent: a store's first build or backfill.

  /** The compute half of a touched-partition overwrite: repartition
    * `merged` by the partition columns (one file per partition
    * directory), checkpoint it (lineage cut off the files about to be
    * replaced — a dynamic overwrite must never consume a plan over its
    * own target) and collect its written partition values. No file under
    * the target is touched, so a caller can overlap this half with
    * another store's write (IndexCatalog.upsertInto's keymap phase A). */
  private[graft] def materializeForOverwrite(partitionCols: Seq[String],
                                             merged: DataFrame)
      : (DataFrame, Set[Seq[Any]]) = {
    val out = merged
      .repartition(partitionCols.map(col): _*)
      .localCheckpoint(true)
    val written = out.select(partitionCols.map(col): _*).distinct()
      .collect().map(_.toSeq).toSet
    (out, written)
  }

  /** The commit half: dynamic-overwrite `out` (pre-partitioned and
    * checkpointed) into `target`, then remove every `touched` partition
    * absent from `written`. A merge that cannot empty a partition passes
    * its touched set as `written` instead of collecting it. */
  private[graft] def commitOverwrite(target: Path, partitionCols: Seq[String],
                                     touched: Iterable[Seq[Any]],
                                     out: DataFrame,
                                     written: Set[Seq[Any]]): DataFrame = {
    out.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(target.toString)
    // Dynamic overwrite only rewrites partitions PRESENT in `out`. A
    // touched partition whose every row was superseded or deleted is
    // absent from `out` and would keep its stale directory — delete those
    // explicitly. Directory names use Spark's own Hive-escaping (a string
    // label 'a:b' lives in 'label=a%3Ab'; null in the default-partition
    // dir), so the cleanup finds exactly the directories the writer
    // created. Membership is Scala equality, so an Int-typed written
    // value matches a Long-typed touched one.
    touched.filterNot(written.contains).foreach { values =>
      val dir = partitionCols.zip(values)
        .map { case (c, v) =>
          if (v == null) s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
          else ExternalCatalogUtils.getPartitionPathString(c, String.valueOf(v))
        }
        .foldLeft(target)(_ resolve _)
      deleteRecursively(dir)
    }
    out
  }

  /** Both halves of the touched-partition overwrite in sequence. */
  private[graft] def overwritePartitions(target: Path,
                                         partitionCols: Seq[String],
                                         touched: Iterable[Seq[Any]],
                                         merged: DataFrame): DataFrame = {
    val (out, written) = materializeForOverwrite(partitionCols, merged)
    commitOverwrite(target, partitionCols, touched, out, written)
  }

  /** [[overwritePartitions]] for a store partitioned by one column. */
  private[graft] def overwritePartitions(target: String, partitionCol: String,
                                         touched: Seq[Any],
                                         merged: DataFrame): DataFrame =
    overwritePartitions(Paths.get(target), Seq(partitionCol),
      touched.map(Seq(_)), merged)

  /** Staged replace of the whole store at `dest`: `write` fills a stage
    * beside it, then the old tree moves aside, the stage moves in, and
    * the old tree is deleted — [[rebuildIvf]]'s order, so readers find no
    * store only between two renames, never across a recursive delete. A
    * write that throws leaves the old store intact and its stage
    * removed. The stage and aside paths are fixed: the caller holds the
    * artifact's writer lease (or owns a private clone). */
  private[graft] def replace(dest: Path)(write: String => Unit): Unit = {
    val staged = dest.resolveSibling(dest.getFileName.toString + ".staged")
    val aside = dest.resolveSibling(dest.getFileName.toString + ".old")
    deleteRecursively(staged) // a killed run's uncommitted stage
    try write(staged.toString)
    catch { case e: Throwable => deleteRecursively(staged); throw e }
    deleteRecursively(aside)
    if (Files.exists(dest)) Files.move(dest, aside)
    Files.move(staged, dest)
    deleteRecursively(aside)
  }

  /** Publish the store at `dest` if it is absent: `write` fills a UNIQUE
    * stage directory beside it, which one atomic rename installs.
    * Concurrent first builders (unleased read paths backfilling the same
    * sidecar, parallel sessions over one shared cache) never share a
    * path: the loser's rename finds the store published and it stands
    * down, discarding its stage (same derivation, so nothing is lost). A
    * write that throws removes its own stage. Returns whether this call
    * installed the store. */
  private[graft] def publishIfAbsent(dest: Path)(write: String => Unit): Boolean = {
    if (Files.exists(dest)) return false
    Files.createDirectories(dest.getParent)
    val stage = Files.createTempDirectory(dest.getParent,
      dest.getFileName.toString + ".stage-")
    try write(stage.toString)
    catch { case e: Throwable => deleteRecursively(stage); throw e }
    try { Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE); true }
    catch {
      // rename(2) onto a published directory fails with ENOTEMPTY, which
      // the JDK reports as a bare FileSystemException
      case _: FileSystemException if Files.exists(dest) =>
        deleteRecursively(stage)
        false
    }
  }

  /** IVF index REBUILD — the actuator that closes the q_ivf_drift
    * monitor's loop (the monitor flags overloaded buckets; until now
    * nothing acted on them, so a drifted index kept degrading probe
    * recall). Re-assigns EVERY stored vector to the caller-provided new
    * centroids (the shared [[graft.operators.IvfIndex.assign]] broadcast
    * argmax — map-side, no window), rewrites the data tree under the
    * index's own derived partition layout, refreshes the centroid
    * sidecar, and invalidates [[graft.plans.AnnRouting]]'s driver-side
    * caches so a live route plans its next query against the NEW layout
    * (a stale cached codebook would probe buckets that no longer exist —
    * exactly the hazard the r9 verdict flagged at AnnRouting.scala:87).
    *
    * Scale shape: a rebuild is inherently O(index) — one broadcast-argmax
    * assignment pass + one shuffle on the partition columns + a full
    * rewrite; that is the cost the q_ivf_drift monitor exists to GATE
    * (run it when balance degrades, not on a schedule). The rewrite goes
    * through a staging directory and a directory swap, never a
    * read-and-overwrite of the live tree (Spark refuses self-overwrite;
    * a localCheckpoint would materialize the whole index in executor
    * memory — fine at test SF, not at 100 TB): the staged [[replace]].
    * Crash honesty: the swap (retire `data`, promote staging) is two
    * renames and is NOT atomic — a crash between them leaves `data.old`
    * holding the intact previous tree for manual rollback; a real
    * deployment runs the swap under a table-format transaction, which is
    * exactly what the compaction manifest above simulates for the
    * in-place case. */
  def rebuildIvf(spark: SparkSession, basePath: String, name: String,
                 newCentroids: DataFrame): Unit = {
    import graft.operators.{IvfIndex, KnnSearch}
    require(IndexCatalog.exists(basePath, name), s"no such index: $name")
    val layout = IndexCatalog.partitionLayout(basePath, name)
    require(layout.contains("bucket"),
      s"rebuildIvf targets bucket-partitioned indexes; $name has layout " +
        layout.mkString("/"))
    // writer-leased like every other maintenance entry point: a rebuild
    // racing an upsert/vacuum would interleave the staging swap with a
    // dynamic overwrite (the one maintainer this index tree ever admits)
    WriterLease.withLease(Paths.get(basePath, name)) {
      rebuildIvfLeased(spark, basePath, name, newCentroids, layout)
    }
  }

  private def rebuildIvfLeased(spark: SparkSession, basePath: String,
                               name: String, newCentroids: DataFrame,
                               layout: Seq[String]): Unit = {
    import graft.operators.{IvfIndex, KnnSearch}
    val idx = IndexCatalog.load(spark, basePath, name)
    val cent = KnnSearch.withNorm(
      newCentroids.select(col("cent_id"), col("c_embedding")), "c_embedding")
      .withColumnRenamed("vec_norm", "c_norm")
    // re-bucket: drop the stale bucket, argmax-assign against the new
    // centroids; every other stored column (vec_norm included — norms are
    // invariant under re-bucketing) rides the assign payload
    val reassigned = IvfIndex.assign(idx.drop("bucket"), cent)
      .withColumnRenamed("cent_id", "bucket")
      .select(idx.columns.toIndexedSeq.map(col): _*)
    val dataDir = Paths.get(basePath, name, "data")
    val kmKey = IndexCatalog.keymapKey(basePath, name)
    replace(dataDir) { staging =>
      reassigned
        .repartition(layout.map(col): _*) // one file per partition directory
        .write.mode("overwrite").partitionBy(layout: _*).parquet(staging)
      // every row is about to be re-bucketed: a keymap built against the
      // old layout would describe pre-rebuild bucket assignments. Drop it
      // BEFORE promoting staging to data — a kill between the swap and a
      // post-swap keymap rewrite would otherwise leave the OLD keymap
      // intact and later discovery would silently miss the moved rows'
      // real partitions (stale duplicates survive, vacuum resurrects
      // hidden rows). With the drop first, a crash anywhere in the window
      // leaves NO keymap, and ensureKeymap backfills from the swapped-in
      // tree on the next maintenance call — the same self-healing path
      // the backfill discipline already provides.
      IndexCatalog.dropKeymap(basePath, name)
    }
    // if the index was maintained before, rebuild the keymap from the
    // swapped-in tree now (one column-pruned scan, amortized into the
    // full rewrite this op already is — saves the next maintenance
    // call's backfill); a never-maintained index stays keymap-less.
    kmKey.foreach { k =>
      IndexCatalog.writeKeymap(spark, basePath, name,
        spark.read.parquet(dataDir.toString), k)
    }
    // the sidecar must carry the ROUND-11 residual column or MIPS (dot)
    // routing silently declines on every rebuilt index: recompute the
    // per-bucket max member-to-centroid L2 distance from the tree just
    // swapped in (one column-pruned scan of the rewritten data)
    val resid = spark.read.parquet(dataDir.toString)
      .select(col("bucket").cast("long").as("cent_id"), col("embedding"))
      .join(broadcast(cent.select(col("cent_id"), col("c_embedding"))), Seq("cent_id"))
      .groupBy(col("cent_id"))
      .agg(max(graft.functions.VectorFunctions.l2Dist(
        col("embedding"), col("c_embedding"))).as("c_maxresid"))
    IndexCatalog.writeCentroids(spark, basePath, name,
      newCentroids.select(col("cent_id"), col("c_embedding"))
        .join(resid, Seq("cent_id"), "left")
        .select(col("cent_id"), col("c_embedding"),
          coalesce(col("c_maxresid"), lit(0.0)).as("c_maxresid")))
    graft.plans.AnnRouting.invalidate(basePath, name)
  }

  /** Rebuild-with-RETRAINING: Lloyd k-means on a bounded deterministic
    * sample (the [[graft.operators.PqIndex.TrainCap]] discipline —
    * training cost constant in corpus size, hash-ordered top-N sample so
    * retries train on identical points), then [[rebuildIvf]] with the
    * learned centroids. The declared q_ivf_rebuild query uses fixed
    * centroids instead (k-means means are not oracle-replayable across
    * engines); this path is the production form, gated by IvfRebuildSpec
    * (balance restored, routed search correct post-rebuild). */
  def rebuildIvfTrained(spark: SparkSession, basePath: String, name: String,
                        k: Int, iterations: Int = 3): Unit = {
    import graft.operators.{IvfIndex, PqIndex}
    val desc = IndexCatalog.describe(basePath, name).getOrElse(
      throw new IllegalArgumentException(s"no such index: $name"))
    val sample = IndexCatalog.load(spark, basePath, name)
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(PqIndex.TrainCap)
      .localCheckpoint(true)
    val cent = IvfIndex.trainCentroids(sample, k, desc.dimension, iterations)
    rebuildIvf(spark, basePath, name,
      cent.select(col("cent_id"), col("c_embedding")))
  }

  /** File-count census per partition directory — the health metric that
    * decides when compaction runs. */
  def fileCounts(tableDir: String, partitionCols: Seq[String]): Map[String, Int] = {
    val root = Paths.get(tableDir)
    partitionDirs(root, partitionCols.length)
      .map(d => root.relativize(d).toString -> parquetFiles(d).length)
      .toMap
  }
}
