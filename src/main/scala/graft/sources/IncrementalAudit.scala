package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL index self-audit — the production arm of q_index_audit.
  *
  * The deep audit ([[InvertedIndex.auditFrame]] /
  * [[MinhashIndex.auditFrame]]) recomputes every invariant over the full
  * physical stores: correct, but corpus-proportional — at fleet scale an
  * audit that costs a full scan per run gets scheduled monthly and
  * corruption lives undetected for weeks. This arm costs ∝ churn: a
  * per-artifact WATERMARK file records the last-audited file inventory
  * (partition dir → sorted part-file names); an audit run diffs the
  * current inventory against it, recomputes invariants ONLY over the
  * buckets whose file lists changed (+ one deterministic refresher
  * bucket per store per epoch, so even a churn-free store is fully
  * re-audited every |buckets| epochs — the sampled-refresher discipline),
  * then advances the watermark. The deep pass remains the periodic
  * backstop: an in-place byte corruption that preserves a file's NAME is
  * invisible to an inventory diff by construction (the spec proves both
  * sides: a touched-bucket corruption flags here, a name-preserving swap
  * in an untouched bucket is caught only by the deep audit — and the
  * incremental scan provably never opens that file).
  *
  * Soundness of the restriction: every audited invariant compares stores
  * that share the restricted partition key by the SAME hash —
  * dict/impacts/positions vs postings per tbucket (a term's rows live in
  * one tbucket in all four stores), footprint vs lens per dbucket, and
  * the minhash stores through derived-bucket pruning (a sig's band rows
  * are findable from the sig alone; a band row's sig from its doc_id) —
  * so a drift between two stores is always visible from whichever side
  * changed.
  *
  * The VECTOR artifact rides the same recipe ([[auditVector]]): the deep
  * keymap_mirrors_data invariant split into its two prunable directions
  * (keymap_covers_data over touched data partitions, keymap_entries_live
  * over touched kbucket shards), each read pruned to the churned shards
  * plus the epoch's refresher. The GRAPH artifact follows with
  * [[auditGraph]] (redges-mirror and endpoint-liveness per touched
  * storage bucket), so all five artifact kinds the engine persists have
  * a churn-proportional arm.
  *
  * A run that FOUND violations does NOT advance the watermark over the
  * flagged stores: the violating buckets stay in the touched set until
  * they audit clean, so a dropped report never loses the signal (the
  * at-least-once discipline extended from crash-kills to red runs).
  */
object IncrementalAudit {

  private val WatermarkName = "_audit_watermark.txt"

  /** (store name → partition dir name → sorted part-file names) for the
    * given store roots. A missing store contributes an empty map. */
  private def inventory(stores: Map[String, String]): Map[String, Map[String, Seq[String]]] =
    stores.map { case (store, root) =>
      val p = Paths.get(root)
      val parts =
        if (!Files.exists(p)) Map.empty[String, Seq[String]]
        else {
          val dirs = Files.list(p)
          try {
            import scala.jdk.CollectionConverters._
            dirs.iterator().asScala
              .filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("="))
              .map { d =>
                val fs = Files.list(d)
                try d.getFileName.toString -> fs.iterator().asScala
                  .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
                  .toSeq.sorted
                finally fs.close()
              }.toMap
          } finally dirs.close()
        }
      store -> parts
    }

  /** Parse a watermark file: epoch plus the recorded inventory. */
  private def readWatermark(root: Path): Option[(Long, Map[String, Map[String, Seq[String]]])] = {
    val f = root.resolve(WatermarkName)
    if (!Files.exists(f)) return None
    val lines = Files.readString(f).split("\n").filter(_.nonEmpty)
    val epoch = lines.head.stripPrefix("epoch=").toLong
    val inv = lines.tail.map { l =>
      val Array(store, part, files) = l.split("\t", 3)
      (store, part, if (files.isEmpty) Seq.empty[String] else files.split(",").toSeq)
    }.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(r => r._2 -> r._3).toMap
    }
    Some((epoch, inv))
  }

  /** Write the watermark atomically (tmp + ATOMIC_MOVE): a killed audit
    * leaves the PREVIOUS watermark, so the next run re-audits this run's
    * buckets — at-least-once, never a silent skip. */
  private def writeWatermark(root: Path, epoch: Long,
                             inv: Map[String, Map[String, Seq[String]]]): Unit = {
    val body = s"epoch=$epoch\n" + inv.toSeq.sortBy(_._1).flatMap { case (s, parts) =>
      parts.toSeq.sortBy(_._1).map { case (d, fs) => s"$s\t$d\t${fs.mkString(",")}" }
    }.mkString("", "\n", "\n")
    val tmp = root.resolve(WatermarkName + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, root.resolve(WatermarkName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bucket ids of partition dirs whose file list changed since `prev`
    * (new dirs included; removed dirs have nothing left to read). */
  private def touched(store: String,
                      cur: Map[String, Map[String, Seq[String]]],
                      prev: Map[String, Map[String, Seq[String]]]): Seq[Long] = {
    val c = cur.getOrElse(store, Map.empty)
    val p = prev.getOrElse(store, Map.empty)
    c.collect {
      case (dir, files) if p.get(dir) != Some(files) =>
        dir.dropWhile(_ != '=').drop(1).toLong
    }.toSeq.distinct.sorted
  }

  /** Baseline the watermark for an INVERTED layout: records the current
    * inventory without auditing (epoch 0) — the "audited up to here"
    * starting point a fleet writes when an artifact is first published. */
  def baselineInverted(layout: InvertedIndex.Layout): Unit = {
    val root = Paths.get(layout.dataPath).getParent
    writeWatermark(root, 0L, inventory(invertedStores(layout)))
  }

  def baselineMinhash(layout: MinhashIndex.Layout): Unit = {
    val root = Paths.get(layout.sigsPath).getParent
    writeWatermark(root, 0L, inventory(minhashStores(layout)))
  }

  private def invertedStores(layout: InvertedIndex.Layout): Map[String, String] = Map(
    "data" -> layout.dataPath,
    "dict" -> layout.dictPath,
    "impacts" -> InvertedIndex.impactsPathOf(layout),
    "positions" -> InvertedIndex.positionsPathOf(layout),
    "footprint" -> InvertedIndex.footprintPathOf(layout),
    "lens" -> InvertedIndex.lensPathOf(layout),
    "norms" -> InvertedIndex.normsPathOf(layout)) // embed indexes only

  private def minhashStores(layout: MinhashIndex.Layout): Map[String, String] = Map(
    "sigs" -> layout.sigsPath,
    "bands" -> layout.bandsPath)

  private def zeroRow(spark: SparkSession, artifact: String, inv: String): DataFrame = {
    import spark.implicits._
    Seq((artifact, inv, 0L)).toDF("artifact", "invariant", "violations")
  }

  /** Advance the watermark only when the MATERIALIZED result is clean:
    * a run that flagged violations keeps the previous watermark, so the
    * flagged buckets stay in every later run's touched set until they
    * audit clean — a dropped report cannot silently mark a corrupt
    * bucket 'audited' (it would otherwise be invisible to this arm until
    * its refresher epoch or the deep pass). `out` is checkpointed by the
    * callers, so the violation sum is a local fold, not a re-run. */
  private def advanceIfClean(root: Path, epoch: Long,
                             cur: Map[String, Map[String, Seq[String]]],
                             out: DataFrame): DataFrame = {
    val total = out.agg(coalesce(sum(col("violations")), lit(0L)))
      .head().getLong(0)
    if (total == 0L) writeWatermark(root, epoch + 1, cur)
    out
  }

  private def countRow(artifact: String, inv: String,
                       violations: org.apache.spark.sql.Column,
                       from: DataFrame): DataFrame =
    from.agg(coalesce(violations, lit(0L)).as("violations"))
      .select(lit(artifact).as("artifact"), lit(inv).as("invariant"),
        col("violations"))

  /** Incremental audit of one inverted layout: term-side invariants over
    * the tbuckets whose postings/dict/impacts/positions shards changed,
    * doc-side over the dbuckets whose footprint/lens shards changed —
    * each set extended by the epoch's refresher bucket. Advances the
    * watermark on completion. */
  def auditInverted(spark: SparkSession, layout: InvertedIndex.Layout,
                    artifact: String = "inverted"): DataFrame = {
    val root = Paths.get(layout.dataPath).getParent
    val stores = invertedStores(layout)
    val cur = inventory(stores)
    val (epoch, prev) = readWatermark(root).getOrElse((0L, Map.empty[String, Map[String, Seq[String]]]))
    val refreshT = epoch % InvertedIndex.TermBuckets
    val refreshD = epoch % InvertedIndex.DocBuckets
    val tb = (Seq("data", "dict", "impacts", "positions").flatMap(touched(_, cur, prev))
      :+ refreshT).distinct.sorted
    val db = (Seq("footprint", "lens", "norms").flatMap(touched(_, cur, prev))
      :+ refreshD).distinct.sorted
    val post = spark.read.parquet(layout.dataPath)
      .filter(col("tbucket").isin(tb: _*))
    val dictCmp = post.groupBy(col("w")).agg(count(lit(1)).as("adf"))
      .join(spark.read.parquet(layout.dictPath)
          .filter(col("tbucket").isin(tb: _*)).select(col("w"), col("df")),
        Seq("w"), "full_outer")
    val d1 = countRow(artifact, "dict_df_matches_postings",
      sum(when(col("adf").isNull || col("df").isNull ||
        col("adf") =!= col("df"), 1L).otherwise(0L)), dictCmp)
    // an index that never served MaxScore has no impacts sidecar yet —
    // nothing to audit until the first backfill creates it (the deep
    // audit backfills; this arm must stay read-only)
    val d2 =
      if (!Files.exists(Paths.get(InvertedIndex.impactsPathOf(layout))))
        zeroRow(spark, artifact, "impacts_bound_postings")
      else {
        // bounds cover the SCORABLE postings — tombstones masked, the
        // deep audit's refreshImpacts-aware refinement
        val scorable =
          if (InvertedIndex.hasParquet(InvertedIndex.tombDirOf(layout)))
            post.join(broadcast(
              spark.read.parquet(InvertedIndex.tombDirOf(layout).toString)
                .select(col("doc_id"))), Seq("doc_id"), "left_anti")
          else post
        val impCmp = scorable.groupBy(col("w"))
          .agg(max(col("tf")).as("atf"), min(col("dl")).as("adl"))
          .join(spark.read.parquet(InvertedIndex.impactsPathOf(layout))
              .filter(col("tbucket").isin(tb: _*))
              .select(col("w"), col("tf_max"), col("dl_min")),
            Seq("w"), "left")
        countRow(artifact, "impacts_bound_postings",
          sum(when(col("tf_max").isNull || col("tf_max") < col("atf") ||
            col("dl_min") > col("adl"), 1L).otherwise(0L)), impCmp)
      }
    val d3 =
      if (!Files.exists(Paths.get(InvertedIndex.positionsPathOf(layout))))
        zeroRow(spark, artifact, "positions_match_tf")
      else {
        val posCmp = spark.read.parquet(InvertedIndex.positionsPathOf(layout))
          .filter(col("tbucket").isin(tb: _*))
          .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("ptf"))
          .join(post.select(col("w"), col("doc_id"), col("tf")),
            Seq("w", "doc_id"), "full_outer")
        countRow(artifact, "positions_match_tf",
          sum(when(col("ptf").isNull || col("tf").isNull ||
            col("ptf") =!= col("tf"), 1L).otherwise(0L)), posCmp)
      }
    // doc-side: footprint and lens are both one-row-per-doc relations
    // sharded by the same doc hash — per touched dbucket their doc sets
    // must coincide (a doc with postings but no length, or a length for
    // a doc no posting mentions, is exactly the delete/upsert half-apply
    // shape)
    val footDocs = spark.read.parquet(InvertedIndex.footprintPathOf(layout))
      .filter(col("dbucket").isin(db: _*)).select(col("doc_id")).distinct()
      .withColumn("f", lit(1))
    val lensDocs = spark.read.parquet(InvertedIndex.lensPathOf(layout))
      .filter(col("dbucket").isin(db: _*)).select(col("doc_id")).distinct()
      .withColumn("l", lit(1))
    val d4 = countRow(artifact, "footprint_docs_match_lens",
      sum(when(col("f").isNull || col("l").isNull, 1L).otherwise(0L)),
      footDocs.join(lensDocs, Seq("doc_id"), "full_outer"))
    // embed layouts carry the norms sidecar — per touched dbucket its doc
    // set must equal the lens's tokenizable docs (dl > 0; a zero-token
    // doc legitimately has a length but no norm), the doc-level liveness
    // sync between the two dbucket-sharded sidecars. The exact n2 values
    // are the deep audit's recompute; this arm checks presence ∝ churn.
    val d5 =
      if (!Files.exists(Paths.get(InvertedIndex.normsPathOf(layout))))
        zeroRow(spark, artifact, "norms_docs_match_lens")
      else {
        val normDocs = spark.read.parquet(InvertedIndex.normsPathOf(layout))
          .filter(col("dbucket").isin(db: _*)).select(col("doc_id"))
          .withColumn("nn", lit(1))
        val lensTok = spark.read.parquet(InvertedIndex.lensPathOf(layout))
          .filter(col("dbucket").isin(db: _*) && col("dl") > 0)
          .select(col("doc_id")).withColumn("lt", lit(1))
        countRow(artifact, "norms_docs_match_lens",
          sum(when(col("nn").isNull || col("lt").isNull, 1L).otherwise(0L)),
          normDocs.join(lensTok, Seq("doc_id"), "full_outer"))
      }
    // word layouts carry the prefix-ordered lex sidecar — the deep
    // lex_matches_dict invariant restricted to the TOUCHED tbuckets:
    // both sides filter by the terms' own hash bucket (the lex store is
    // vocabulary-sized metadata — the Heaps budget — so the bucket
    // restriction prunes the COMPARISON, and a full-outer join catches
    // both directions of a half-applied dict/lex merge: a key the merge
    // added to one store only, a dead key it dropped from one store
    // only, and a stored len disagreeing with its own key). Coverage
    // needs no lex-side inventory: every lex write is PAIRED with a
    // dict write (mergeKeySetPartitions runs inside mergeDictBuckets;
    // build/rebuild write both), so the dict's touched set + the term
    // refresher sweep the pair.
    val lexPath = InvertedIndex.dictLexPathOf(layout)
    val d6 =
      if (!Files.exists(Paths.get(lexPath)))
        zeroRow(spark, artifact, "lex_matches_dict")
      else {
        val lexT = spark.read.parquet(lexPath)
          .filter(InvertedIndex.bucketCol(col("w")).isin(tb: _*))
          .select(col("w"), col("len")).withColumn("lk", lit(1))
        val dictT = spark.read.parquet(layout.dictPath)
          .filter(col("tbucket").isin(tb: _*)).select(col("w"))
          .withColumn("dk", lit(1))
        countRow(artifact, "lex_matches_dict",
          sum(when(col("dk").isNull || col("lk").isNull ||
            col("len") =!= length(col("w")), 1L).otherwise(0L)),
          dictT.join(lexT, Seq("w"), "full_outer"))
      }
    // word layouts also carry the deletion-neighborhood sidecar — the
    // deep del_matches_dict invariant restricted to the touched tbuckets'
    // dict terms: their exact variant recompute full_outer-joined against
    // the stored rows FOR THOSE TERMS (stored side filtered by the term's
    // own hash bucket, like the lex arm — the comparison is pruned, and
    // both directions of a half-applied dict/del merge flag)
    val delPath = InvertedIndex.dictDelPathOf(layout)
    val d7 =
      if (!Files.exists(Paths.get(delPath)))
        zeroRow(spark, artifact, "del_matches_dict")
      else {
        val dictT = spark.read.parquet(layout.dictPath)
          .filter(col("tbucket").isin(tb: _*)).select(col("w"))
        val expect = InvertedIndex.delRowsOf(dictT).withColumn("ek", lit(1))
          .localCheckpoint(true) // consumed for the vbucket collect + the join
        // the expected variants' vbuckets, collected as plan-time
        // metadata (≤ TermBuckets values): the stored-side read prunes to
        // exactly those PARTITION directories — the row-wise bucketCol(w)
        // filter alone restricted the COMPARISON but scanned the whole
        // vocabulary-scale store (the churn-proportional claim this arm
        // makes was only half true before this). Residual honestly
        // named: an orphan row of a dict-DROPPED term sitting in a
        // vbucket no current expected variant hashes to escapes this
        // incremental arm (its vbucket is never probed) — the DEEP
        // audit's full-store pass is the named backstop, and the epoch
        // refresher rotates incremental coverage across tbuckets.
        val vb = expect.select(InvertedIndex.bucketCol(col("v")).as("b"))
          .distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq
        val stored = spark.read.parquet(delPath)
          .filter(col("vbucket").isin(vb: _*) &&
            InvertedIndex.bucketCol(col("w")).isin(tb: _*))
          .select(col("v"), col("w")).withColumn("sk", lit(1))
        countRow(artifact, "del_matches_dict",
          sum(when(col("ek").isNull || col("sk").isNull, 1L).otherwise(0L)),
          expect.join(stored, Seq("v", "w"), "full_outer"))
      }
    // word layouts also carry the reversed-term sidecar — the deep
    // rev_matches_dict invariant restricted to the touched tbuckets'
    // dict terms, with the stored side pruned to the expected terms' r2
    // PARTITIONS (one partition per term — collected driver-side as
    // plan-time metadata, the del arm's discipline without its fanout)
    val revPath = InvertedIndex.dictRevPathOf(layout)
    val d8 =
      if (!Files.exists(Paths.get(revPath)))
        zeroRow(spark, artifact, "rev_matches_dict")
      else {
        val dictT = spark.read.parquet(layout.dictPath)
          .filter(col("tbucket").isin(tb: _*)).select(col("w"))
          .localCheckpoint(true) // consumed for the r2 collect + the join
        val r2s = dictT.select(InvertedIndex.revP2Col(col("w")).as("p"))
          .distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
        val expect = dictT
          .select(col("w"), reverse(col("w")).as("rw")).withColumn("ek", lit(1))
        val stored = spark.read.parquet(revPath)
          .filter(col("r2").isin(r2s: _*) &&
            InvertedIndex.bucketCol(col("w")).isin(tb: _*))
          .select(col("w"), col("rw")).withColumn("rk", lit(1))
        countRow(artifact, "rev_matches_dict",
          sum(when(col("ek").isNull || col("rk").isNull, 1L).otherwise(0L)),
          expect.join(stored, Seq("w", "rw"), "full_outer"))
      }
    val out = d1.unionByName(d2).unionByName(d3).unionByName(d4)
      .unionByName(d5).unionByName(d6).unionByName(d7).unionByName(d8)
      .localCheckpoint(true) // materialize BEFORE the watermark advances
    advanceIfClean(root, epoch, cur, out)
  }

  /** Incremental audit of one minhash layout: sig-side derivation checked
    * into the band store pruned by the DERIVED band-hash buckets, band-
    * side rows checked against re-derivation from their docs' sigs pruned
    * by the docs' sig buckets — both directions ∝ churn. */
  def auditMinhash(spark: SparkSession, layout: MinhashIndex.Layout): DataFrame = {
    val root = Paths.get(layout.sigsPath).getParent
    val stores = minhashStores(layout)
    val cur = inventory(stores)
    val (epoch, prev) = readWatermark(root).getOrElse((0L, Map.empty[String, Map[String, Seq[String]]]))
    val sb = (touched("sigs", cur, prev) :+ epoch % MinhashIndex.SigBuckets)
      .distinct.sorted
    val bb = (touched("bands", cur, prev) :+ epoch % MinhashIndex.BandBuckets)
      .distinct.sorted
    val sigsS = spark.read.parquet(layout.sigsPath)
      .filter(col("sbucket").isin(sb: _*)).select(col("doc_id"), col("sig"))
      .localCheckpoint(true) // consumed for derivation + width + bucket collect
    val m3 = countRow("minhash", "sig_width",
      sum(when(size(col("sig")) =!= Dedup.MinhashFns, 1L).otherwise(0L)), sigsS)
    // sig → band direction: the touched sigs' derived band rows must all
    // exist in the band store; the read prunes to the DERIVED bbuckets
    // (≤ BandBuckets values — plan-time metadata)
    val derived = Dedup.lshBands(sigsS)
      .withColumn("bbucket", MinhashIndex.bbucketCol(col("band_hash")))
      .localCheckpoint(true)
    val derivedBb = derived.select(col("bbucket")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val storeForDerived = spark.read.parquet(layout.bandsPath)
      .filter(col("bbucket").isin(derivedBb: _*))
      .select(col("doc_id"), col("band_idx"), col("band_hash"))
    val m1 = countRow("minhash", "bands_cover_sigs",
      count(lit(1)),
      derived.select(col("doc_id"), col("band_idx"), col("band_hash"))
        .join(storeForDerived, Seq("doc_id", "band_idx", "band_hash"), "left_anti"))
    // band → sig direction: the touched band rows must equal a row
    // re-derived from their doc's stored signature (orphans AND
    // hash-drifted rows both fail); the sig read prunes to the rows'
    // docs' sbuckets
    val bandB = spark.read.parquet(layout.bandsPath)
      .filter(col("bbucket").isin(bb: _*))
      .select(col("doc_id"), col("band_idx"), col("band_hash"))
      .localCheckpoint(true)
    val bandSb = bandB.select(MinhashIndex.sbucketCol(col("doc_id")).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq
    val sigsForBand = spark.read.parquet(layout.sigsPath)
      .filter(col("sbucket").isin(bandSb: _*)).select(col("doc_id"), col("sig"))
    val m2 = countRow("minhash", "bands_have_sigs",
      count(lit(1)),
      bandB.join(
        Dedup.lshBands(sigsForBand)
          .select(col("doc_id"), col("band_idx"), col("band_hash")),
        Seq("doc_id", "band_idx", "band_hash"), "left_anti"))
    val out = m1.unionByName(m2).unionByName(m3).localCheckpoint(true)
    advanceIfClean(root, epoch, cur, out)
  }

  /** Baseline the watermark for a persisted VECTOR index (data +
    * keymap stores). Single-level partition layouts only — the shape
    * every cataloged index in this engine uses; a multi-level layout
    * falls back to the deep audit. */
  def baselineVector(basePath: String, name: String): Unit = {
    val root = Paths.get(basePath, name)
    writeWatermark(root, 0L, inventory(vectorStores(basePath, name)))
  }

  private def vectorStores(basePath: String, name: String): Map[String, String] = Map(
    "data" -> Paths.get(basePath, name, "data").toString,
    "keymap" -> Paths.get(basePath, name, "keymap").toString)

  /** Partition-dir NAMES (e.g. "bucket=3") whose file list changed. */
  private def touchedDirs(store: String,
                          cur: Map[String, Map[String, Seq[String]]],
                          prev: Map[String, Map[String, Seq[String]]]): Seq[String] = {
    val c = cur.getOrElse(store, Map.empty)
    val p = prev.getOrElse(store, Map.empty)
    c.collect { case (dir, files) if p.get(dir) != Some(files) => dir }
      .toSeq.distinct.sorted
  }

  /** Incremental audit of one vector index: the deep
    * keymap_mirrors_data invariant split into its two PRUNABLE
    * directions —
    *  - keymap_covers_data: every row in a TOUCHED data partition has
    *    its (key, location) in the keymap, read pruned to those keys'
    *    kbuckets (a miss is the corrupting direction: later discovery
    *    would not find the row);
    *  - keymap_entries_live: every entry in a TOUCHED kbucket shard
    *    names a physical row, the data read pruned to the entries'
    *    named partitions (a standing surplus is crash-residue drift).
    * Each direction reads only churned shards plus the epoch's
    * refresher (one data partition by dir order, one kbucket). */
  def auditVector(spark: SparkSession, basePath: String, name: String,
                  keyCol: String = "vec_id"): DataFrame = {
    val root = Paths.get(basePath, name)
    val partitionCols = IndexCatalog.partitionLayout(basePath, name)
    require(partitionCols.length == 1,
      s"incremental vector audit supports single-level layouts; $name has " +
        partitionCols.mkString("/") + " — run the deep auditFrame instead")
    val pc = partitionCols.head
    val cur = inventory(vectorStores(basePath, name))
    val (epoch, prev) = readWatermark(root).getOrElse((0L, Map.empty[String, Map[String, Seq[String]]]))
    val allDataDirs = cur.getOrElse("data", Map.empty).keys.toSeq.sorted
    val refreshDir =
      if (allDataDirs.isEmpty) Nil
      else Seq(allDataDirs((epoch % allDataDirs.size).toInt))
    val tDirs = (touchedDirs("data", cur, prev) ++ refreshDir).distinct.sorted
    val kb = (touched("keymap", cur, prev) :+ epoch % IndexCatalog.KeyBuckets)
      .distinct.sorted
    val idx = IndexCatalog.loadRaw(spark, basePath, name)
    def dirPred(dirs: Seq[String]) = dirs
      .map(d => col(pc) <=> lit(d.dropWhile(_ != '=').drop(1)).cast(idx.schema(pc).dataType))
      .reduceOption(_ || _).getOrElse(lit(false))
    val km = spark.read.parquet(Paths.get(basePath, name, "keymap").toString)
    // data → keymap direction over the touched partitions
    val dataT = idx.filter(dirPred(tDirs))
      .select(col(keyCol), col(pc).cast("string").as(pc))
      .distinct().localCheckpoint(true)
    val dataKb = dataT
      .select(pmod(xxhash64(col(keyCol).cast(km.schema(keyCol).dataType)),
        lit(IndexCatalog.KeyBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq
    val kmForData = km.filter(col("kbucket").isin(dataKb: _*)).drop("kbucket")
    val v1 = countRow("vector", "keymap_covers_data", count(lit(1)),
      dataT.join(kmForData, Seq(keyCol, pc), "left_anti"))
    // keymap → data direction over the touched kbucket shards
    val kmT = km.filter(col("kbucket").isin(kb: _*)).drop("kbucket")
      .localCheckpoint(true)
    val namedDirs = kmT.select(col(pc)).distinct()
      .collect().map(r => s"$pc=${r.getString(0)}").toSeq
    val dataForKm = idx.filter(dirPred(namedDirs))
      .select(col(keyCol), col(pc).cast("string").as(pc)).distinct()
    val v2 = countRow("vector", "keymap_entries_live", count(lit(1)),
      kmT.join(dataForKm, Seq(keyCol, pc), "left_anti"))
    val out = v1.unionByName(v2).localCheckpoint(true)
    advanceIfClean(root, epoch, cur, out)
  }

  /** Baseline the watermark for a serving-GRAPH store (edges + redges;
    * the flat members list swaps whole per trigger and is read in full —
    * a slim id column, metadata-grade). */
  def baselineGraph(root: Path): Unit =
    writeWatermark(root, 0L, inventory(graphStores(root)))

  private def graphStores(root: Path): Map[String, String] = Map(
    "edges" -> root.resolve("edges").toString,
    "redges" -> root.resolve("redges").toString)

  /** Incremental audit of one serving-graph store — the deep
    * redges-mirror invariant split into its two PRUNABLE directions plus
    * endpoint liveness, each read restricted to churned shards + the
    * epoch's refresher:
    *  - redges_cover_edges: every edge in a TOUCHED sbucket has its
    *    (dst, src) reverse row, the redges read pruned to the dsts'
    *    storage buckets;
    *  - edges_cover_redges: every reverse row in a TOUCHED dbucket has
    *    its forward edge, the edges read pruned to the srcs' buckets;
    *  - edge_endpoints_in_members: the touched edges' endpoints are all
    *    members (members read whole — one slim id column).
    * `nodeBuckets` is the node → storage-bucket map the PRIMARY vector
    * index maintains (its keymap at deployment; the assignment frame the
    * lifecycle already holds here) — the graph partitions by the vector
    * index's own key, so bucket lookups are the primary's business. */
  def auditGraph(spark: SparkSession, root: Path,
                 nodeBuckets: DataFrame): DataFrame = {
    val cur = inventory(graphStores(root))
    val (epoch, prev) = readWatermark(root).getOrElse((0L, Map.empty[String, Map[String, Seq[String]]]))
    def withRefresher(store: String): Seq[Long] = {
      val all = cur.getOrElse(store, Map.empty).keys.toSeq.sorted
        .map(_.dropWhile(_ != '=').drop(1).toLong)
      val refresher =
        if (all.isEmpty) Nil else Seq(all((epoch % all.size).toInt))
      (touched(store, cur, prev) ++ refresher).distinct.sorted
    }
    val sb = withRefresher("edges")
    val db = withRefresher("redges")
    val nb = nodeBuckets.select(col("vec_id"), col("gbucket"))
    // direction 1: touched forward edges must be covered by the sidecar
    val eT = spark.read.parquet(root.resolve("edges").toString)
      .filter(col("sbucket").isin(sb: _*)).select(col("src"), col("dst"))
      .localCheckpoint(true)
    val dstB = eT.select(col("dst").as("vec_id")).distinct()
      .join(nb, Seq("vec_id")).select(col("gbucket")).distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    val redgesForE = spark.read.parquet(root.resolve("redges").toString)
      .filter(col("dbucket").isin(dstB: _*)).select(col("src"), col("dst"))
    val g1 = countRow("graph", "redges_cover_edges", count(lit(1)),
      eT.join(redgesForE, Seq("src", "dst"), "left_anti"))
    // direction 2: touched reverse rows must name real forward edges
    val rT = spark.read.parquet(root.resolve("redges").toString)
      .filter(col("dbucket").isin(db: _*)).select(col("src"), col("dst"))
      .localCheckpoint(true)
    val srcB = rT.select(col("src").as("vec_id")).distinct()
      .join(nb, Seq("vec_id")).select(col("gbucket")).distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    val edgesForR = spark.read.parquet(root.resolve("edges").toString)
      .filter(col("sbucket").isin(srcB: _*)).select(col("src"), col("dst"))
    val g2 = countRow("graph", "edges_cover_redges", count(lit(1)),
      rT.join(edgesForR, Seq("src", "dst"), "left_anti"))
    // endpoint liveness over the touched forward edges
    val members = spark.read.parquet(root.resolve("members").toString)
      .select(col("vec_id"))
    val endpoints = eT.select(col("src").as("vec_id"))
      .unionByName(eT.select(col("dst").as("vec_id"))).distinct()
    val g3 = countRow("graph", "edge_endpoints_in_members", count(lit(1)),
      endpoints.join(members, Seq("vec_id"), "left_anti"))
    val out = g1.unionByName(g2).unionByName(g3).localCheckpoint(true)
    advanceIfClean(root, epoch, cur, out)
  }

  /** The cross-artifact liveness-sync row, PRUNED to the churned id
    * shards: domain ids restricted to `idFilter` (the churn's dbucket
    * footprint — id-hash metadata), inverted liveness from the lens
    * shards those ids live in, vector liveness from the keymap pruned to
    * the ids' kbuckets. The deep [[MinhashIndex.crossLiveSyncFrame]]
    * checks the whole domain; this arm re-verifies the slice the churn
    * could have desynchronized. */
  def crossLiveSyncPruned(spark: SparkSession,
                          invLayout: InvertedIndex.Layout,
                          vecBase: String, vecName: String,
                          domain: DataFrame,
                          idFilter: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    val ids = domain.select(col("doc_id")).filter(idFilter)
      .localCheckpoint(true)
    val dbuckets = ids.select(InvertedIndex.dbucketCol(col("doc_id")).as("b"))
      .distinct().as[Long].collect().sorted.toIndexedSeq
    val lens = spark.read.parquet(InvertedIndex.lensPathOf(invLayout))
      .filter(col("dbucket").isin(dbuckets: _*)).select(col("doc_id"))
    val invLive =
      if (InvertedIndex.hasParquet(InvertedIndex.tombDirOf(invLayout)))
        lens.join(broadcast(
          spark.read.parquet(InvertedIndex.tombDirOf(invLayout).toString)
            .select(col("doc_id"))), Seq("doc_id"), "left_anti")
      else lens
    val km = spark.read.parquet(
      Paths.get(vecBase, vecName, "keymap").toString)
    val kbuckets = ids
      .select(pmod(xxhash64(col("doc_id").cast(km.schema("vec_id").dataType)),
        lit(IndexCatalog.KeyBuckets.toLong)).as("b"))
      .distinct().as[Long].collect().sorted.toIndexedSeq
    val vecLive = km.filter(col("kbucket").isin(kbuckets: _*))
      .select(col("vec_id").as("doc_id"))
    countRow("cross", "inverted_vector_live_sync",
      sum(when(col("i").isNull =!= col("v").isNull, 1L).otherwise(0L)),
      ids.join(invLive.withColumn("i", lit(1)), Seq("doc_id"), "left")
        .join(vecLive.withColumn("v", lit(1)), Seq("doc_id"), "left"))
  }

  /** The TEXT-PAIR liveness-sync row, PRUNED to the churned id shards:
    * both text artifacts' lens reads restrict to the churn's dbucket
    * footprint (one shared doc-id hash ⇒ one shard domain for both).
    * The deep [[MinhashIndex.crossLiveTextSyncFrame]] checks the whole
    * document domain; this arm re-verifies the slice the churn could
    * have half-applied. */
  def crossLiveTextSyncPruned(spark: SparkSession,
                              invLayout: InvertedIndex.Layout,
                              embLayout: InvertedIndex.Layout,
                              domain: DataFrame,
                              idFilter: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    val ids = domain.select(col("doc_id")).filter(idFilter)
      .localCheckpoint(true)
    val dbuckets = ids.select(InvertedIndex.dbucketCol(col("doc_id")).as("b"))
      .distinct().as[Long].collect().sorted.toIndexedSeq
    def liveOf(l: InvertedIndex.Layout): DataFrame = {
      val lens = spark.read.parquet(InvertedIndex.lensPathOf(l))
        .filter(col("dbucket").isin(dbuckets: _*)).select(col("doc_id"))
      if (InvertedIndex.hasParquet(InvertedIndex.tombDirOf(l)))
        lens.join(broadcast(
          spark.read.parquet(InvertedIndex.tombDirOf(l).toString)
            .select(col("doc_id"))), Seq("doc_id"), "left_anti")
      else lens
    }
    countRow("cross", "inverted_embed_live_sync",
      sum(when(col("i").isNull =!= col("e").isNull, 1L).otherwise(0L)),
      ids.join(liveOf(invLayout).withColumn("i", lit(1)), Seq("doc_id"), "left")
        .join(liveOf(embLayout).withColumn("e", lit(1)), Seq("doc_id"), "left"))
  }

  /** The six-artifact scratch fixture q_index_audit_incr churns and
    * audits — built ONCE per session and reused across runs (r16, the
    * r15 verdict's #7: the declared record — 2nd-largest in the suite —
    * was ~all per-run clone/build setup, burying the number the query
    * exists to state, the audit's cost ∝ churn). Every RUN still applies
    * REAL churn before auditing (see [[indexAuditIncr]]), so the
    * steady-state measurement is churn-apply + incremental audit. */
  private case class IncrFixture(inv: InvertedIndex.Layout,
                                 mh: MinhashIndex.Layout,
                                 vBase: String, vName: String,
                                 gRoot: Path,
                                 asgAll: DataFrame, nodeBuckets: DataFrame,
                                 emb: InvertedIndex.Layout,
                                 vecTwins: DataFrame,
                                 runs: java.util.concurrent.atomic.AtomicLong,
                                 sc: org.apache.spark.SparkContext)

  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, IncrFixture]()

  private def buildFixture(spark: SparkSession, dir: String): IncrFixture = {
    // shared-cache ensures FIRST and sequentially (the indexRepair rule:
    // build-if-absent must never race itself from two setup threads);
    // all Files.exists no-ops on a warm cache
    InvertedIndex.ensure(spark, dir)
    EmbedIndex.ensure(spark, dir)
    MinhashIndex.ensure(spark, dir)
    // the five scratch artifact setups touch five disjoint scratch roots
    // — overlapped (Par, guide §2.6); the graph chain (twins →
    // assignments → store init) anchors the phase
    val vBase = graft.Scratch.dir("audit-incr-vec")
    val vName = "aincr-index"
    val gRoot = Paths.get(graft.Scratch.dir("audit-incr-graph"))
    var inv: InvertedIndex.Layout = null
    var mh: MinhashIndex.Layout = null
    var emb: InvertedIndex.Layout = null
    var vecTwins: DataFrame = null
    var asgAll: DataFrame = null
    graft.operators.Par.run(Seq(
      () => {
        inv = InvertedIndex.cloneIndex(spark, dir, "audit-incr-inv")
        baselineInverted(inv)
      },
      () => {
        mh = MinhashIndex.cloneIndex(spark, dir, "audit-incr-mh")
        baselineMinhash(mh)
      },
      () => {
        // vector artifact: a scratch maintained index (the indexRepair
        // lifecycle shape)
        IndexCatalog.createIfAbsent(spark, vBase,
          IndexCatalog.IndexDescriptor(vName, 64, "cosine"),
          graft.Tables.embeddings(spark, dir))
        IndexCatalog.ensureKeymap(spark, vBase, vName, "vec_id")
        baselineVector(vBase, vName)
      },
      () => {
        // embed16 flagship artifact: same clone-churn-audit lifecycle
        // through the SAME inverted machinery (marker-dispatched
        // tokenizer), its norms sidecar in the doc-side touched set
        emb = InvertedIndex.cloneIndexNamed(spark, dir,
          EmbedIndex.IndexName, "embed16", "audit-incr-emb")
        baselineInverted(emb)
      },
      () => {
        vecTwins = graft.Tables.embeddings(spark, dir)
          .filter(col("vec_id") < 5)
          .select((col("vec_id") + InvertedIndex.UpsertIdOffset).as("vec_id"),
            col("label"), col("embedding"))
          .localCheckpoint(true)
        // graph artifact: a scratch serving-graph store over corpus ∪ the
        // vector twins (assignments cover the arrivals so the CDC trigger
        // can route them)
        val grown = graft.Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"), col("embedding"))
          .unionByName(vecTwins)
        asgAll = graft.operators.GraphOps
          .ivfTop2AssignmentsOf(spark, dir, grown).localCheckpoint(true)
        graft.operators.GraphOps.initGraphStore(gRoot, asgAll,
          col("vec_id") < InvertedIndex.UpsertIdOffset)
        baselineGraph(gRoot)
      }),
      parallelism = 5)
    val nodeBuckets = asgAll.filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").cast("int").as("gbucket"))
      .localCheckpoint(true)
    IncrFixture(inv, mh, vBase, vName, gRoot, asgAll, nodeBuckets, emb,
      vecTwins, new java.util.concurrent.atomic.AtomicLong(0L),
      spark.sparkContext)
  }

  /** Q-index-audit-incr: the churn-proportional audit end-to-end — six
    * scratch artifacts warm with BASELINED watermarks (the fixture,
    * built once per session — the publish-time move), a real churn batch
    * applied to every artifact THIS run, then the incremental audit:
    * every invariant zero over exactly the touched subset. The deep
    * q_index_audit stays the periodic full pass; the sensitivity and
    * read-pruning proofs (a touched-bucket corruption flags; a
    * name-preserving corruption in an UNTOUCHED bucket is never even
    * read) are spec-gated in IncrementalAuditSpec. */
  def indexAuditIncr(spark: SparkSession, dir: String): DataFrame = {
    // the fixture's localCheckpoint'd frames are bound to the CREATING
    // SparkContext's executors — a later run in the same JVM after a
    // session restart would fail opaquely on missing RDD blocks, so the
    // lookup validates the context and rebuilds on mismatch (same-context
    // session forks share blocks and reuse safely)
    val f = fixtures.compute(dir, (_, old) =>
      if (old != null && (old.sc eq spark.sparkContext) &&
          !old.sc.isStopped) old
      else buildFixture(spark, dir))
    val run = f.runs.incrementAndGet()
    val inv = f.inv
    val emb = f.emb
    // REAL churn per run — never a replayed measurement over a static
    // fixture: the text artifacts take a FRESH-ID add batch (ids offset
    // by the run counter, so every store append is a true inventory
    // delta and the audited state stays healthy); the vector and graph
    // artifacts take the standard batch REDELIVERED (the idempotent-
    // consumer maintenance shape — touched shards rewrite, the
    // inventory moves, the audited state is unchanged by design)
    val twins = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") < InvertedIndex.UpsertSrcCount)
      .select((col("doc_id") + InvertedIndex.UpsertIdOffset + lit(run * 1000L))
        .as("doc_id"), col("text"))
    // five maintainers over five DISJOINT artifact roots (each takes its
    // own writer lease) — overlapped jobs, not a serial chain (Par,
    // guide §2.6): the churn phase costs max(five applies), not the sum
    graft.operators.Par.run(Seq(
      () => InvertedIndex.upsertDocs(spark, inv, twins),
      () => MinhashIndex.upsertDocs(spark, f.mh, twins),
      () => InvertedIndex.upsertDocs(spark, emb, twins),
      () => IndexCatalog.upsertInto(spark, f.vBase, f.vName, f.vecTwins, "vec_id"),
      () => graft.operators.GraphOps.applyGraphCdcBatch(f.gRoot, f.asgAll,
        f.vecTwins.select(col("vec_id"), lit("U").as("op")), batchId = run)),
      parallelism = 5)
    val vBase = f.vBase
    val vName = f.vName
    val gRoot = f.gRoot
    val nodeBuckets = f.nodeBuckets
    // cross-artifact liveness sync over the churn's id-shard footprint:
    // the churned ids' dbucket shards hold other in-domain ids too — the
    // slice a half-applied feed could have desynchronized
    val domain = graft.Tables.documents(spark, dir).select(col("doc_id"))
      .join(graft.Tables.embeddings(spark, dir)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val churnDbuckets = twins
      .select(InvertedIndex.dbucketCol(col("doc_id")).as("b")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    // the seven audit arms read the (now quiescent) artifacts and
    // materialize their own touched-set collects/checkpoints — disjoint
    // reads, overlapped like the churn phase; the union order is fixed
    // here so the result is identical to the serial form
    val arms = graft.operators.Par.map[DataFrame](Seq(
      () => auditInverted(spark, inv),
      () => auditInverted(spark, emb, artifact = "embed"),
      () => auditMinhash(spark, f.mh),
      () => auditVector(spark, vBase, vName),
      () => auditGraph(spark, gRoot, nodeBuckets),
      () => crossLiveSyncPruned(spark, inv, vBase, vName, domain,
        InvertedIndex.dbucketCol(col("doc_id")).isin(churnDbuckets: _*)),
      () => crossLiveTextSyncPruned(spark, inv, emb,
        graft.Tables.documents(spark, dir).select(col("doc_id"))
          .unionByName(twins.select(col("doc_id"))),
        InvertedIndex.dbucketCol(col("doc_id")).isin(churnDbuckets: _*))),
      parallelism = 7)
    arms.reduce(_ unionByName _)
      .orderBy(col("artifact"), col("invariant"))
  }

  val indexAuditIncrSql: String =
    """SELECT * FROM (VALUES
      |  ('cross', 'inverted_embed_live_sync', CAST(0 AS BIGINT)),
      |  ('cross', 'inverted_vector_live_sync', CAST(0 AS BIGINT)),
      |  ('embed', 'del_matches_dict', CAST(0 AS BIGINT)),
      |  ('embed', 'dict_df_matches_postings', CAST(0 AS BIGINT)),
      |  ('embed', 'footprint_docs_match_lens', CAST(0 AS BIGINT)),
      |  ('embed', 'impacts_bound_postings', CAST(0 AS BIGINT)),
      |  ('embed', 'lex_matches_dict', CAST(0 AS BIGINT)),
      |  ('embed', 'norms_docs_match_lens', CAST(0 AS BIGINT)),
      |  ('embed', 'positions_match_tf', CAST(0 AS BIGINT)),
      |  ('embed', 'rev_matches_dict', CAST(0 AS BIGINT)),
      |  ('graph', 'edge_endpoints_in_members', CAST(0 AS BIGINT)),
      |  ('graph', 'edges_cover_redges', CAST(0 AS BIGINT)),
      |  ('graph', 'redges_cover_edges', CAST(0 AS BIGINT)),
      |  ('inverted', 'del_matches_dict', CAST(0 AS BIGINT)),
      |  ('inverted', 'dict_df_matches_postings', CAST(0 AS BIGINT)),
      |  ('inverted', 'footprint_docs_match_lens', CAST(0 AS BIGINT)),
      |  ('inverted', 'impacts_bound_postings', CAST(0 AS BIGINT)),
      |  ('inverted', 'lex_matches_dict', CAST(0 AS BIGINT)),
      |  ('inverted', 'norms_docs_match_lens', CAST(0 AS BIGINT)),
      |  ('inverted', 'positions_match_tf', CAST(0 AS BIGINT)),
      |  ('inverted', 'rev_matches_dict', CAST(0 AS BIGINT)),
      |  ('minhash', 'bands_cover_sigs', CAST(0 AS BIGINT)),
      |  ('minhash', 'bands_have_sigs', CAST(0 AS BIGINT)),
      |  ('minhash', 'sig_width', CAST(0 AS BIGINT)),
      |  ('vector', 'keymap_covers_data', CAST(0 AS BIGINT)),
      |  ('vector', 'keymap_entries_live', CAST(0 AS BIGINT))
      |) t(artifact, invariant, violations)
      |ORDER BY artifact, invariant""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_index_audit_incr" -> (indexAuditIncr _))

  def oracles: Map[String, String] = Map(
    "q_index_audit_incr" -> indexAuditIncrSql)
}
