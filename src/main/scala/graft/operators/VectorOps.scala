package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared queries for the vector-search surface (reference `main.go`
  * query path + `upsert/upsert.go` index semantics), each paired with a
  * DuckDB oracle that computes identical double-precision arithmetic.
  */
object VectorOps {
  import VectorSql.{cosine => cosSql, norm => normSql}

  private def index(spark: SparkSession, dir: String): DataFrame =
    KnnSearch.withNorm(Tables.embeddings(spark, dir))

  /** ONE Spark-SQL cosine fragment (zero-norm-guarded, over the
    * registered native vec_dot/vec_l2norm) shared by every SQL-surface
    * query (q_sql_knn, q_knn_auto, q_lsh_auto) — oracle hash-parity
    * depends on these staying bit-identical, so a guard or rounding fix
    * must reach all of them through this one definition. */
  private[graft] def sparkCosineSql(emb: String, q: String): String =
    s"""CASE WHEN vec_l2norm($emb) * vec_l2norm($q) = 0.0 THEN 0.0
       |        ELSE vec_dot($emb, $q)
       |             / (vec_l2norm($emb) * vec_l2norm($q)) END""".stripMargin

  /** A query vector as a SQL literal: Float.toString round-trips the
    * exact float, so CAST back to ARRAY<FLOAT> rebuilds bit-identical
    * values and literal-based scores equal the column-based ones to the
    * last ulp. Non-finite components are rejected up front — a bare
    * `NaN`/`Infinity` token does not parse as SQL, so without the guard a
    * corrupt query vector would surface as an opaque parse error at query
    * build instead of this actionable message. */
  private[graft] def floatArraySqlLiteral(v: Seq[Float]): String = {
    require(v.forall(f => !f.isNaN && !f.isInfinite),
      s"query vector contains a non-finite component: ${v.find(f => f.isNaN || f.isInfinite).get}")
    s"CAST(array(${v.mkString(", ")}) AS ARRAY<FLOAT>)"
  }

  /** Q-knn: top-10 cosine neighbors of vector 0 (reference: topK query,
    * `main.go:101-106`, with K=1 generalized). */
  def knn(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    KnnSearch.topK(emb, q, 10)
  }

  val knnSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(${cosSql("e.embedding", "qe")}, 6) AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Q-knn-l2: the same top-10 search under the EUCLIDEAN metric
    * (reference descriptor alternative, `upsert/upsert.go:27`) — distance
    * ranks ascending, proving the metric parameter flips both the kernel
    * and the ordering. */
  def knnL2(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    KnnSearch.topK(emb, q, 10, metric = "euclidean")
  }

  val knnL2Sql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(${VectorSql.l2dist("e.embedding", "qe")}, 6) AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |ORDER BY score ASC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Q-knn-dot: the DOTPRODUCT metric (`upsert/upsert.go:27`) — raw inner
    * product, descending, no normalization. */
  def knnDot(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    KnnSearch.topK(emb, q, 10, metric = "dotproduct")
  }

  val knnDotSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(${VectorSql.dot("e.embedding", "qe")}, 6) AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Q-knn-join: top-3 neighbors for each of the first 8 vectors — batch
    * similarity search as a broadcast join + ranking window. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val qs = Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    KnnSearch.knnJoin(emb, qs, 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val knnJoinSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.label,
       |         ROUND(${cosSql("e.embedding", "qe")}, 6) AS score
       |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, label, score, rank FROM ranked
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Q-knn-join-large: corpus-vs-corpus kNN — EVERY embedding is a query,
    * top-3 neighbors within its LSH bucket (see [[KnnSearch.knnJoinLarge]]
    * for the 100 TB shape: bucket equi-join, NO broadcast of the
    * table-sized query block — plan-asserted in KnnSpec). */
  def knnJoinLarge(spark: SparkSession, dir: String): DataFrame =
    KnnSearch.knnJoinLarge(Tables.embeddings(spark, dir), dim = 64, k = 3)
      .orderBy(col("query_id"), col("rank"))

  /** The LSH-bucketed corpus-vs-corpus ranked-edges CTEs (b → scored →
    * ranked), shared verbatim by q_knn_join_large and the k-NN-graph
    * oracle (GraphOps.knnGraphSql) — the two must replay identical bucket
    * arithmetic, scoring, and tiebreaks or their edge sets drift apart. */
  private[operators] val lshRankedEdgesCtes: String = {
    import VectorSql.{cosine => cos}
    s"""b AS (SELECT vec_id, label, embedding,
       |             ${RandomHyperplaneLsh.bucketSqlPublic("embedding")} AS bucket
       |           FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id, e.label,
       |         ROUND(${cos("e.embedding", "q.embedding")}, 6) AS score
       |  FROM b e JOIN b q ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)""".stripMargin
  }

  val knnJoinLargeSql: String =
    s"""WITH $lshRankedEdgesCtes
       |SELECT query_id, vec_id, label, score, rank FROM ranked
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Q-fetch: point lookup by id (reference `vectors/fetch?ids=`,
    * `main.go:143`); the predicate reaches the Parquet scan. */
  def fetch(spark: SparkSession, dir: String): DataFrame =
    KnnSearch.fetch(Tables.embeddings(spark, dir), 42L)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(l2Norm(col("embedding")), 6).as("norm"))

  val fetchSql: String =
    s"""SELECT vec_id, label, len(embedding) AS dim,
       |  ROUND(${normSql("embedding")}, 6) AS norm
       |FROM embeddings WHERE vec_id = 42""".stripMargin

  /** Q-fetch-batch: the reference's query-path FETCH LOOP recast as one
    * batched lookup — after the top-K search, `main.go:141-180` fetches
    * every matched id with its own HTTPS GET (and the loop is duplicated,
    * so topK=1 costs 2×K fetch round-trips); here the K matched ids (tiny
    * driver-side metadata, the nprobe discipline) become ONE `IN`-filtered
    * scan, pushed to Parquet as a PushedFilter. The oracle recomputes the
    * same top-K id set relationally and joins back — proving the
    * loop→set-operation recast returns exactly the looped fetches' rows.
    *
    * Scale shape: K ids cross the driver; the fetch is one pruned scan
    * (row-group skipping on the id filter) instead of K point queries. */
  def fetchBatch(spark: SparkSession, dir: String): DataFrame = {
    val ids = knn(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(l2Norm(col("embedding")), 6).as("norm"))
      .orderBy(col("vec_id"))
  }

  val fetchBatchSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |top AS (SELECT e.vec_id FROM embeddings e, q
       |        WHERE e.vec_id <> 0
       |        ORDER BY ROUND(${cosSql("e.embedding", "qe")}, 6) DESC, e.vec_id
       |        LIMIT 10)
       |SELECT e.vec_id, e.label, len(e.embedding) AS dim,
       |  ROUND(${normSql("e.embedding")}, 6) AS norm
       |FROM embeddings e JOIN top USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  /** Q-fetch-indexed: [[fetchBatch]]'s id set served from the PERSISTED
    * bucket-partitioned index through the keymap sidecar
    * ([[graft.sources.IndexCatalog.fetchByIds]]) — identical rows,
    * different access path. The IN-filter form prunes ROW GROUPS but
    * still lists every partition directory's files and footers; the
    * keymap form turns the ids into a literal partition predicate, so
    * the scan lists only the directories that hold them — at 100 TB the
    * difference between a metadata pass over the whole index and K
    * directory reads (the reference's per-id fetch loop, `main.go:
    * 141-180`, served at K-ids-per-listing cost). The norm comes back
    * from the index's STORED vec_norm — auxiliary per-row state riding
    * the fetch for free, bit-equal to recomputation (same kernel at
    * build). Shares q_fetch_batch's oracle semantics. */
  def fetchIndexed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    import spark.implicits._
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    // keymap ensured at PUBLISH time (this query owns the serving
    // artifact) — fetchByIds itself is read-only and would fall back to
    // the unpruned semi-join scan on a keymap-less index (ADVICE r13)
    IndexCatalog.ensureKeymap(spark, base, name, "vec_id")
    val ids = knn(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    IndexCatalog.fetchByIds(spark, base, name, ids.toDF("vec_id"))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(col("vec_norm"), 6).as("norm"))
      .orderBy(col("vec_id"))
  }

  /** Q-index-stats: per-namespace vector counts — the reference's
    * `describe_index_stats` (`debug-commands.txt:10-12`), with `label`
    * standing in for the namespace partition. */
  // avg_norm sums DECIMAL(38,18) casts of the norms (the labelCentroids
  // discipline): a raw double avg is accumulation-order-dependent, so the
  // rounded 6th decimal could flip between engines/partitionings when a
  // mean sits near a rounding boundary.
  def indexStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(l2Norm(col("embedding")).cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("avg_norm"))
      .orderBy(col("label"))

  val indexStatsSql: String =
    s"""SELECT label, COUNT(*) AS n_vectors,
       |  ROUND(CAST(SUM(CAST(${normSql("embedding")} AS DECIMAL(38,18))) AS DOUBLE)
       |        / COUNT(*), 6) AS avg_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** Q-upsert: last-write-wins merge by id (Pinecone upsert semantics,
    * reference `upsert/upsert.go:170` — re-runs with the same synthetic ids
    * silently overwrite). Batch 1 re-writes every 10th vector; the winner
    * per id is the highest batch. At scale this is a shuffle on the id key
    * only — no data movement of the losing batch past the window. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val batch0 = emb.select(col("vec_id"), col("label"), lit(0).as("batch"))
    val batch1 = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), (col("label") + 100).as("label"), lit(1).as("batch"))
    Upsert.lastWriteWins(batch0.unionByName(batch1), Seq("vec_id"), "batch")
      .orderBy(col("vec_id"))
  }

  val upsertSql: String =
    """WITH all_batches AS (
      |  SELECT vec_id, label, 0 AS batch FROM embeddings
      |  UNION ALL
      |  SELECT vec_id, label + 100 AS label, 1 AS batch FROM embeddings WHERE vec_id % 10 = 0),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY batch DESC) AS rn
      |  FROM all_batches)
      |SELECT vec_id, label, batch FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Q-ann-ivf: IVF approximate nearest neighbor — centroids are the 16
    * lowest-id vectors (deterministic stand-in for offline k-means), the
    * query probes its 4 nearest buckets, exact scoring inside them. The
    * oracle replays the same assignment/probe/search pipeline, so the
    * bucket-pruned plan is proven against a full recomputation. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val cent = seedCentroids(spark, dir)
    val q = KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    IvfIndex.search(IvfIndex.assign(emb, cent), cent, q, nprobe = 4, k = 10)
  }

  /** ONE builder for the IVF oracle — the filtered variant differs by a
    * single candidate predicate, so both gates always state identical
    * assignment/probe/rank semantics (a fix to the shared CTEs can never
    * reach one oracle and miss the other). */
  private def ivfOracleSql(extraPredicate: String, nprobe: Int = 4): String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |pr AS (SELECT cent_id FROM cent, q
       |       ORDER BY ${cos("cent.ce", "q.qe")} DESC, cent_id LIMIT $nprobe),
       |res AS (SELECT a.vec_id, a.label, a.cent_id,
       |          ROUND(${cos("a.embedding", "q.qe")}, 6) AS score
       |        FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |        WHERE a.vec_id <> q.q_id$extraPredicate)
       |SELECT vec_id, label, cent_id, score FROM res
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  val annIvfSql: String = ivfOracleSql("")

  /** Q-knn-filtered: METADATA-FILTERED vector search — the query-time
    * filter the reference's platform exposes (Pinecone queries accept a
    * metadata filter; the wire schema carries metadata the Go client
    * declares but never populates, `upsert/upsert.go:32`, `main.go:49`).
    * Semantics are PRE-filter: the predicate restricts the candidate set
    * BEFORE ranking, so the result is the exact top-K of the filtered
    * subset — k results whenever k candidates exist. (Post-filtering a
    * top-K of the full corpus returns fewer than k when matches are
    * sparse — the classic filtered-search pitfall; the filter-then-rank
    * order is the contract here and in the oracle.)
    *
    * Scale shape: the filter is pushed into the scan (a metadata column
    * predicate → Parquet PushedFilters / partition pruning when the
    * filter column is a partition key, e.g. label or namespace), and the
    * ranking cost drops to the filtered cardinality. Composes with every
    * ANN family the same way — IVF probes then filter inside buckets. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir).filter(col("label") === 3)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    KnnSearch.topK(emb, q, 10)
  }

  val knnFilteredSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(${cosSql("e.embedding", "qe")}, 6) AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0 AND e.label = 3
       |ORDER BY score DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Q-ann-filtered: the FILTERED-ANN composition — the metadata
    * predicate applied INSIDE the probed IVF buckets, proving
    * [[knnFiltered]]'s composability claim executably: probe selection is
    * unchanged (the query's 4 nearest centroids), the filter then
    * restricts candidates within those buckets before exact scoring, so
    * the plan pays nprobe/k of the corpus AND only the predicate's
    * fraction of that. Semantics caveat stated honestly: filtered-IVF is
    * approximate in a way brute filtered search is not — a label-3 vector
    * whose bucket is not probed is unreachable (same recall trade as
    * unfiltered IVF, evaluated by q_recall_eval's audit pattern). The
    * oracle replays assignment + probe + filter + rank exactly. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val cent = seedCentroids(spark, dir)
    val q = KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    IvfIndex.search(IvfIndex.assign(emb, cent), cent, q, nprobe = 4, k = 10,
      candidateFilter = col("label") === 3)
  }

  val annFilteredSql: String = ivfOracleSql(" AND a.label = 3")

  /** The 16 lowest-id vectors as seed centroids (the deterministic
    * stand-in for offline k-means) — THE one construction every IVF-family
    * query and its oracle must agree on bit-for-bit (q_ann_ivf,
    * q_ann_ivf_persisted, q_ivf_drift, q_ann_batch all share it; a change
    * here desynchronizes the persisted index from the in-memory paths
    * unless they all move together). */
  private[operators] def seedCentroids(spark: SparkSession, dir: String): DataFrame =
    KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("c_embedding")),
      "c_embedding").withColumnRenamed("vec_norm", "c_norm")

  /** Ensure the bucket-partitioned persisted IVF index exists (seed
    * centroids = [[seedCentroids]]) and return its (base, name, centroid
    * table). Shared by the persisted search (q_ann_ivf_persisted) and the
    * balance monitor (q_ivf_drift) so both see the identical layout. */
  private[graft] def ensureIvfBucketed(spark: SparkSession, dir: String)
      : (String, String, DataFrame) = {
    import graft.sources.IndexCatalog
    val base = IndexCatalog.cacheBase(dir)
    val name = "emb-ivf-bucketed"
    val cent = seedCentroids(spark, dir)
    if (!IndexCatalog.exists(base, name)) {
      val data = IvfIndex.assign(index(spark, dir), cent)
        .withColumnRenamed("cent_id", "bucket")
        .drop("vec_norm") // createIfAbsent recomputes it via withNorm
      IndexCatalog.createIfAbsent(spark, base,
        IndexCatalog.IndexDescriptor(name, 64, "cosine"), data,
        partitionCols = Seq("label", "bucket"))
    }
    // centroid sidecar for plan-time probe selection (AnnRouting); written
    // separately so indexes persisted before the sidecar existed get one.
    // Carries c_maxresid — each bucket's max member-to-centroid L2
    // distance — because MIPS (dotproduct-metric) probe selection needs
    // the norm-aware bound dot(q,c) + ‖q‖·maxresid; a sidecar without it
    // (the pre-round-11 schema) makes dot routing decline, so an existing
    // old-schema sidecar is upgraded in place here.
    // Only the parquet SCHEMA probe is memoized per JVM (every IVF-family
    // query routes through here, and an extra footer read per call would
    // tax all of them); the hasCentroids DIRECTORY check stays OUTSIDE
    // the memo — an index deleted and recreated at the same path later in
    // the JVM must never inherit a stale "checked" verdict, or the fresh
    // index would get no sidecar and every *_auto query would silently
    // decline to the brute plan (diverging from its probed oracle).
    val sidecarPath = java.nio.file.Paths.get(base, name, "centroids").toString
    val needSidecar = !IndexCatalog.hasCentroids(base, name) ||
      (!residSidecarsChecked.contains(sidecarPath) &&
        !spark.read.parquet(sidecarPath).columns.contains("c_maxresid"))
    if (needSidecar) {
      val members = IvfIndex.assign(index(spark, dir), cent)
        .select(col("cent_id"), col("embedding"))
      val resid = members
        .join(broadcast(cent.select(col("cent_id"), col("c_embedding"))), "cent_id")
        .groupBy(col("cent_id"))
        .agg(max(l2Dist(col("embedding"), col("c_embedding"))).as("c_maxresid"))
      IndexCatalog.writeCentroids(spark, base, name,
        cent.select(col("cent_id"), col("c_embedding"))
          .join(resid, Seq("cent_id"), "left")
          // an empty bucket bounds at dot(q,c) exactly (resid 0)
          .select(col("cent_id"), col("c_embedding"),
            coalesce(col("c_maxresid"), lit(0.0)).as("c_maxresid")))
      graft.plans.AnnRouting.invalidate(base, name)
    }
    residSidecarsChecked.add(sidecarPath)
    (base, name, cent)
  }

  /** Sidecar paths already verified (or written) to carry c_maxresid in
    * this JVM — see the schema-probe memo note in [[ensureIvfBucketed]]. */
  private val residSidecarsChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Q-ann-ivf-persisted: the SAME IVF search as q_ann_ivf, but against a
    * PERSISTED index with the centroid bucket as a physical partition
    * column (`partitionBy("label", "bucket")`). Probe selection scores the
    * 16-row centroid table against the query and collects the nprobe=4
    * winning centroid ids — METADATA, not data: nprobe integers cross the
    * driver, the way any IVF system's query planner holds its (tiny,
    * cached) centroid codebook. Those literal ids become a PartitionFilter
    * on the index scan, which reads only the 4 probed `bucket=` directories
    * — the executable form of SCALE.md's "bucket id becomes a partition
    * column → partition pruning". Same oracle as q_ann_ivf: identical
    * results, different access path. */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, cent) = ensureIvfBucketed(spark, dir)
    val q = KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    val probeIds = IvfIndex.probes(cent, q, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    KnnSearch.rankTopK(
      IndexCatalog.loadBuckets(spark, base, name, probeIds)
        .withColumn("cent_id", col("bucket").cast("long"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", KnnSearch.prenormedScore)
        .select(col("vec_id"), col("label"), col("cent_id"), col("score")),
      "vec_id", 10)
  }

  /** Q-knn-auto: OPTIMIZER-ROUTED ANN — the user writes the naive plan (a
    * plain `ORDER BY cosine DESC LIMIT 10` over the full persisted index
    * table, no probes, no bucket predicate, the exact SQL a BI tool or a
    * q_sql_knn-style user would emit) and [[graft.plans.AnnRouting]]'s
    * `Rule[LogicalPlan]` rewrites it into the probed IVF scan: plan-time
    * centroid scoring on the driver picks the nprobe=4 buckets, a
    * `bucket IN (...)` filter lands on the scan as PartitionFilters, and
    * the Sort+Limit collapses to TakeOrderedAndProject over 4 of 16
    * partition directories. Same oracle as q_ann_ivf — the routed plan
    * must produce exactly the programmatic IVF API's results (registering
    * the index is the opt-in to approximate top-K, as a probes setting is
    * in published IVF systems). Negative path (rule must NOT fire on
    * unregistered scans / ascending sorts) is spec-gated in
    * AnnRoutingSpec. */
  /** The naive SQL frame of q_knn_auto — route-agnostic: the caller
    * decides the registration scope ([[knnAuto]] wraps it in
    * `AnnRouting.withRoute`; PlanDump registers, dumps the lazily-routed
    * plan, and unregisters). */
  private[graft] def knnAutoFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(${sparkCosineSql("embedding", qLit)}, 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0)
         |SELECT vec_id, label, cent_id, score FROM scored
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
  }

  def knnAuto(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      knnAutoFrame(spark, dir))
  }

  /** Q-knn-auto-tuned: MEASUREMENT→DEPLOYMENT closed for the routed IVF
    * family — the q_knn_auto query served at the depth q_nprobe_tune
    * CHOSE ([[IvfTune.TunedNprobe]], spec-pinned to the live sweep in
    * IvfTuneSpec) instead of the latency-default nprobe=4. Same naive
    * frame, same routing rule; only the registered probe config differs,
    * exactly how a recall-targeted deployment consumes the tune (the
    * q_fusion_tune → q_fusion_serve precedent). The oracle replays the
    * probed semantics AT THE CHOSEN DEPTH through the identical
    * assign/probe/rank CTEs ([[ivfOracleSql]] parameterized by depth) —
    * on this corpus the chosen depth is the full fanout, so the replay
    * degenerates to exact search, which is precisely the tune's honest
    * verdict on untrained seed centroids. */
  def knnAutoTuned(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name,
      nprobe = IvfTune.TunedNprobe)(knnAutoFrame(spark, dir))
  }

  val knnAutoTunedSql: String = ivfOracleSql("", IvfTune.TunedNprobe)

  /** Q-l2-auto: OPTIMIZER-ROUTED EUCLIDEAN ANN — the q_knn_auto contract
    * under the reference's other first-class metric (`upsert/upsert.go:27`
    * documents euclidean alongside cosine/dotproduct). The user writes the
    * naive nearest-first DISTANCE sort — `ORDER BY vec_l2dist(...) ASC
    * LIMIT 10` over the full persisted index table — and the extended
    * [[graft.plans.AnnRouting]] rule (which previously matched only DESC
    * similarity sorts, leaving exactly this query to silently full-scan)
    * rewrites it into the probed scan: probe selection picks the nprobe=4
    * centroids NEAREST BY L2 (not cosine — the probe geometry must match
    * the ranking geometry), the `bucket IN (...)` PartitionFilter prunes
    * the scan, and the ASC Sort+Limit collapses to TakeOrderedAndProject.
    * The oracle replays the routed semantics exactly: cosine assignment
    * (how the index was BUILT), L2 probe selection, L2 ranking within the
    * probed buckets. Negative forms (DESC distance = farthest-first,
    * `-l2 ASC`) are spec-gated to decline. */
  private[graft] def l2AutoFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(vec_l2dist(embedding, $qLit), 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0)
         |SELECT vec_id, label, cent_id, score FROM scored
         |ORDER BY score ASC, vec_id LIMIT 10""".stripMargin)
  }

  def l2Auto(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      l2AutoFrame(spark, dir))
  }

  val l2AutoSql: String = {
    import VectorSql.{cosine => cos, l2dist}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |pr AS (SELECT cent_id FROM cent, q
       |       ORDER BY ${l2dist("cent.ce", "q.qe")} ASC, cent_id LIMIT 4),
       |res AS (SELECT a.vec_id, a.label, a.cent_id,
       |          ROUND(${l2dist("a.embedding", "q.qe")}, 6) AS score
       |        FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |        WHERE a.vec_id <> q.q_id)
       |SELECT vec_id, label, cent_id, score FROM res
       |ORDER BY score ASC, vec_id LIMIT 10""".stripMargin
  }

  /** Q-dot-auto: OPTIMIZER-ROUTED MIPS — the q_knn_auto contract under
    * the reference's THIRD first-class metric (`upsert/upsert.go:27`
    * documents dotproduct beside cosine/euclidean). The user writes the
    * naive raw-inner-product ranking — `ORDER BY vec_dot(...) DESC
    * LIMIT 10`, no normalization — and [[graft.plans.AnnRouting]] routes
    * it with NORM-AWARE probe selection: bucket b's probe score is the
    * Cauchy–Schwarz upper bound `dot(q, c_b) + ‖q‖·maxresid_b` read from
    * the residual-carrying centroid sidecar, not the cosine centroid
    * score — under cosine probes a high-norm vector sitting in an
    * angularly-distant bucket is unreachable, which is exactly the vector
    * a MIPS ranking exists to find. A sidecar without residuals (the
    * pre-round-11 schema) declines to the exact brute plan rather than
    * mis-probing. The oracle replays the routed semantics end to end:
    * cosine assignment (how the index was BUILT), per-bucket max residual,
    * bound-ranked probe selection, raw-dot ranking within the probed
    * buckets. */
  private[graft] def dotAutoFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(vec_dot(embedding, $qLit), 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0)
         |SELECT vec_id, label, cent_id, score FROM scored
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
  }

  def dotAuto(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      dotAutoFrame(spark, dir))
  }

  val dotAutoSql: String = {
    import VectorSql.{cosine => cos, dot, l2dist, norm}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |mr AS (SELECT a.cent_id, MAX(${l2dist("a.embedding", "c.ce")}) AS resid
       |       FROM a1 a JOIN cent c ON a.cent_id = c.cent_id GROUP BY a.cent_id),
       |pr AS (SELECT cent.cent_id FROM cent LEFT JOIN mr ON cent.cent_id = mr.cent_id
       |       CROSS JOIN q
       |       ORDER BY ${dot("cent.ce", "q.qe")} + ${norm("q.qe")} * COALESCE(mr.resid, 0.0)
       |         DESC, cent.cent_id LIMIT 4),
       |res AS (SELECT a.vec_id, a.label, a.cent_id,
       |          ROUND(${dot("a.embedding", "q.qe")}, 6) AS score
       |        FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |        WHERE a.vec_id <> q.q_id)
       |SELECT vec_id, label, cent_id, score FROM res
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Q-knn-auto-filtered: the ROUTED + FILTERED composition — q_knn_auto's
    * naive SQL with a user metadata predicate (`label = 3`) added, proving
    * at the optimizer level what q_ann_filtered proves programmatically:
    * the AnnRouting rewrite composes with user predicates instead of being
    * displaced by them. One plan carries BOTH filter classes — the user's
    * `label = 3` (a partition filter on this label/bucket-partitioned
    * layout, directory pruning) AND the injected `bucket IN (...)` probe
    * set (PartitionFilters from the rewrite), with `vec_id <> 0` pushed to
    * the Parquet scan as a data filter — so the scan reads only the
    * label-3 slices of the 4 probed bucket directories. Probe selection is
    * UNCHANGED by the filter (the q_ann_filtered semantics: probes are
    * chosen by the query alone, the predicate restricts candidates inside
    * them), which is why the oracle is exactly annFilteredSql. */
  private[graft] def knnAutoFilteredFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(${sparkCosineSql("embedding", qLit)}, 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0 AND label = 3)
         |SELECT vec_id, label, cent_id, score FROM scored
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
  }

  def knnAutoFiltered(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      knnAutoFilteredFrame(spark, dir))
  }

  /** The persisted MAP-METADATA index (q_knn_meta): the faithful
    * generalization of the reference's declared-but-never-populated
    * per-vector metadata (`upsert/upsert.go:32` carries a
    * `map[string]string` TODO on the wire schema; Pinecone stores it and
    * filters on it at query time). Every vector gains a
    * `meta map<string,string>` with two keys, derived deterministically so
    * the oracle can replay the derivation inline:
    * `lang` = en/de/fr by vec_id mod 3, `tier` = gold/bronze by label
    * parity. The HOT key (`lang` — the one every query filters on) is
    * ALSO materialized as a plain column at build time and used as the
    * partition column: map lookups cannot push into a Parquet scan, so
    * materialization is what turns the common predicate into directory
    * pruning, while rare keys stay map-only and filter post-scan. This
    * build-time hot-key/cold-key split is the standard store design the
    * reference's TODO would need at scale. */
  private def ensureMetaIndex(spark: SparkSession, dir: String): (String, String) = {
    import graft.sources.IndexCatalog
    val base = IndexCatalog.cacheBase(dir)
    val name = "emb-meta"
    if (!IndexCatalog.exists(base, name)) {
      val lang = when(col("vec_id") % 3 === 0, "en")
        .when(col("vec_id") % 3 === 1, "de").otherwise("fr")
      val tier = when(col("label") % 2 === 0, "gold").otherwise("bronze")
      val data = Tables.embeddings(spark, dir)
        .withColumn("lang", lang)
        .withColumn("meta", map(
          lit("lang"), lang, lit("tier"), tier))
      IndexCatalog.createIfAbsent(spark, base,
        IndexCatalog.IndexDescriptor(name, 64, "cosine"), data,
        partitionCols = Seq("lang"))
    }
    (base, name)
  }

  /** Q-knn-meta: metadata-filtered search over the map-typed index —
    * top-10 cosine neighbors of vector 0 where `meta['lang']='en'` AND
    * `meta['tier']='gold'`. PRE-filter semantics (the q_knn_filtered
    * contract): both predicates restrict candidates before ranking. The
    * hot key routes through its materialized partition column
    * (PartitionFilters: lang=en — the scan lists one directory), the cold
    * key stays a genuine `element_at(meta, 'tier')` lookup on the stored
    * map (post-scan filter, before scoring). Exact within the filtered
    * subset, so the oracle replays the derivations inline. */
  def knnMeta(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name) = ensureMetaIndex(spark, dir)
    val idx = IndexCatalog.load(spark, base, name)
      .filter(col("lang") === "en" &&
        element_at(col("meta"), "tier") === "gold")
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    KnnSearch.topK(idx, q, 10)
  }

  val knnMetaSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ROUND(${cosSql("e.embedding", "qe")}, 6) AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0 AND e.label % 2 = 0
       |ORDER BY score DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** Q-cluster-mix: temperature-flattened sampling over UNSUPERVISED
    * embedding clusters — [[CorpusOps.temperatureMix]]'s rebalancing
    * applied to semantic domains instead of a labeled column: every
    * vector is assigned to its nearest seed centroid (the shared
    * [[IvfIndex.assign]] argmax, replayed exactly by the oracle's asg
    * CTE), per-cluster keep-rate is `min(1, sqrt(n_min/n_c))` (α = 0.5 —
    * sqrt is correctly-rounded IEEE on both engines where pow(x, 0.5) is
    * not), and membership is the same salted portable-hash gate. This is
    * the cluster-balanced curation step of embedding-driven data
    * pipelines: dominant semantic domains downsample toward the
    * flattened share without any label column existing.
    *
    * Scale shape: assignment is the broadcast map-side argmax (partial
    * aggregation, no window); sizes/rates are k-row broadcasts; the gate
    * is map-side — one corpus scan end to end. */
  def clusterMix(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.temperatureRebalance(
      IvfIndex.assign(index(spark, dir), seedCentroids(spark, dir))
        .select(col("vec_id"), col("cent_id")),
      keyCol = "cent_id", idCol = "vec_id", salt = ":cmix", countName = "n_vecs")

  val clusterMixSql: String = {
    import VectorSql.{cosine => cos}
    val assignCtes =
      s"""cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
         |  FROM embeddings e, cent c),
         |a1 AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1),
         |""".stripMargin
    CorpusOps.temperatureRebalanceSql(prefixCte = assignCtes, from = "a1",
      key = "cent_id", id = "vec_id", salt = ":cmix", countName = "n_vecs")
  }

  /** Q-hybrid: sparse–dense HYBRID retrieval with reciprocal-rank fusion —
    * the Pinecone-style hybrid query the reference's platform offers
    * (sparse lexical signal + dense semantic signal, `main.go:45-48`
    * carries both on the wire). Two rankers score every candidate against
    * query vector 0: dense = the standard stored-norm cosine; sparse =
    * dot product over magnitude-thresholded components (|x| ≥ 0.05, the
    * q_sparse representation — the dense-vector analog of a keyword
    * match). Each ranker RETRIEVES its top-100 (TakeOrderedAndProject —
    * rank-then-fuse is how production hybrid works; nobody ranks the full
    * corpus), then RRF fuses: score = Σ 1/(60+rank) over the lists that
    * retrieved the doc, missing list → no contribution. The fused sum is
    * two fixed-order terms, so double addition associates identically in
    * both engines. */
  def hybrid(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SparseVectors
    val masked = (c: org.apache.spark.sql.Column) =>
      SparseVectors.toDense(SparseVectors.toSparse(c, 0.05), 64)
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      .withColumn("q_norm", l2Norm(col("q_embedding")))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ds", KnnSearch.prenormedScore)
      .withColumn("ss", round(dotProduct(
        masked(col("embedding")), masked(col("q_embedding"))), 6))
      .select(col("vec_id"), col("label"), col("ds"), col("ss"))
    def top100(scoreCol: String, rankName: String) = {
      val w = Window.orderBy(col(scoreCol).desc, col("vec_id"))
      scored.orderBy(col(scoreCol).desc, col("vec_id")).limit(100)
        .withColumn(rankName, row_number().over(w))
        .select(col("vec_id"), col("label"), col(rankName))
    }
    val d = top100("ds", "dense_rank")
    val s = top100("ss", "sparse_rank")
      .withColumnRenamed("label", "label_s")
    d.join(s, Seq("vec_id"), "full_outer")
      .select(
        col("vec_id"),
        coalesce(col("label"), col("label_s")).as("label"),
        col("dense_rank"), col("sparse_rank"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("sparse_rank")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("vec_id"))
      .limit(10)
  }

  val hybridSql: String = {
    import VectorSql.{cosine => cos}
    val mask = (v: String) =>
      s"list_transform($v, x -> CASE WHEN abs(CAST(x AS DOUBLE)) >= 0.05 " +
        "THEN CAST(x AS DOUBLE) ELSE 0.0 END)"
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, ${mask("embedding")} AS mqe
       |           FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    ROUND(${cos("e.embedding", "q.qe")}, 6) AS ds,
       |    ROUND(list_sum(list_transform(${mask("e.embedding")},
       |                                  (x,i) -> x * q.mqe[i])), 6) AS ss
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |d AS (SELECT vec_id, label, ROW_NUMBER() OVER (ORDER BY ds DESC, vec_id) AS dense_rank
       |      FROM scored ORDER BY ds DESC, vec_id LIMIT 100),
       |s AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY ss DESC, vec_id) AS sparse_rank
       |      FROM scored ORDER BY ss DESC, vec_id LIMIT 100),
       |f AS (SELECT COALESCE(d.vec_id, s.vec_id) AS vec_id, d.dense_rank, s.sparse_rank
       |      FROM d FULL OUTER JOIN s ON d.vec_id = s.vec_id)
       |SELECT f.vec_id, e.label, f.dense_rank, f.sparse_rank,
       |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + f.dense_rank), 0.0)
       |      + COALESCE(CAST(1.0 AS DOUBLE) / (60 + f.sparse_rank), 0.0), 6) AS rrf
       |FROM f JOIN embeddings e ON f.vec_id = e.vec_id
       |ORDER BY rrf DESC, f.vec_id LIMIT 10""".stripMargin
  }

  /** Q-sql-knn: the SAME top-10 cosine search as q_knn, but issued
    * through the SQL surface — `spark.sql` over the registered native
    * expressions (vec_dot / vec_l2norm from [[graft.plans.GraftExtensions]]).
    * Proves the SQL registration path end-to-end under the driver's
    * oracle gate, not just in unit tests: a pure-SQL user gets the exact
    * codegen kernels and values of the Scala API. */
  def sqlKnn(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings_sql")
    spark.sql(
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings_sql WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |  ROUND(${sparkCosineSql("e.embedding", "q.qe")}, 6) AS score
         |FROM embeddings_sql e CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin)
  }

  /** Same oracle as q_knn — the SQL surface must produce identical values. */
  val sqlKnnSql: String = knnSql

  /** Q-sparse: magnitude-threshold sparsification into the reference's
    * sparse wire schema (parallel indices/values arrays, `main.go:45-48`)
    * — stored-element count, retained-energy fraction, and first stored
    * index per vector. The one reference schema element with no other
    * coverage; the oracle rebuilds the same (idx, value) pairs 0-based. */
  def sparse(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SparseVectors
    val df = Tables.embeddings(spark, dir)
      .withColumn("sp", SparseVectors.toSparse(col("embedding"), 0.05))
      .withColumn("nnz", SparseVectors.nnz(col("sp")))
    df.select(col("vec_id"), col("nnz"),
        when(col("nnz") > 0, round(
          SparseVectors.sparseSelfDot(col("sp")) /
            dotProduct(col("embedding"), col("embedding")), 6)).as("energy_frac"),
        when(col("nnz") > 0,
          element_at(col("sp").getField("indices"), 1)).as("first_idx"))
      .orderBy(col("vec_id"))
  }

  val sparseSql: String =
    s"""WITH sp AS (
       |  SELECT vec_id, embedding,
       |    list_filter(list_transform(embedding, (x,i) -> {'idx': i-1, 'v': x}),
       |                s -> abs(CAST(s.v AS DOUBLE)) >= 0.05) AS sp
       |  FROM embeddings)
       |SELECT vec_id, len(sp) AS nnz,
       |  CASE WHEN len(sp) > 0 THEN
       |    ROUND(list_sum(list_transform(sp, s -> CAST(s.v AS DOUBLE)*CAST(s.v AS DOUBLE)))
       |          / ${VectorSql.dot("embedding", "embedding")}, 6) END AS energy_frac,
       |  CASE WHEN len(sp) > 0 THEN sp[1].idx END AS first_idx
       |FROM sp ORDER BY vec_id""".stripMargin

  /** Q-stratified-sample: deterministic systematic sampling per class —
    * every 5th vector within each label by id order. The balanced-
    * subsample operator a training pipeline runs before class-weighted
    * training; deterministic (unlike `TABLESAMPLE`/`sample()`, whose RNG
    * is engine-private and could never hash-match an oracle). One shuffle
    * on the strata key; at scale the modulus is the sampling rate knob. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val byLabel = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    Tables.embeddings(spark, dir)
      .withColumn("__rn", row_number().over(byLabel))
      .filter((col("__rn") - 1) % 5 === 0)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_sampled"), min(col("vec_id")).as("first_id"),
        max(col("vec_id")).as("last_id"))
      .orderBy(col("label"))
  }

  val stratifiedSampleSql: String =
    """WITH ranked AS (
      |  SELECT label, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n_sampled, MIN(vec_id) AS first_id,
      |  MAX(vec_id) AS last_id
      |FROM ranked WHERE (rn - 1) % 5 = 0
      |GROUP BY label ORDER BY label""".stripMargin

  /** Q-sq8-knn: top-10 search over INT8 scalar-quantized vectors — the
    * 4× compression that makes a 100 TB float index a 25 TB scan (the
    * standard memory/bandwidth trade every production vector store
    * offers). Per-vector symmetric quantization: q_i = ⌊x_i·s + ½⌋ with
    * s = 127/max|x| (⌊·+½⌋, not round() — the two engines disagree on
    * round's tie rule, floor is bit-identical). All quantized values are
    * small integers, so dot products and norms are EXACT integer sums —
    * no FP-ordering hazard anywhere until the single final division. The
    * quantized arrays are cast to float (integers ≤ 127 and 64-term
    * integer sums are exact in binary32/64) so scoring reuses the native
    * codegen'd dot kernel. Exact cosine rides along for the
    * recall-vs-compression comparison. */
  /** Per-vector INT8 scalar quantization (the q_sq8_knn kernel, shared
    * with the persisted form): scale = 127/max|x| per vector, codes =
    * round-half-up integers, qnorm = the code vector's own L2. The
    * scale is materialized as a column FIRST: a lambda referencing an
    * outer expression re-evaluates it per element (no CSE) — inlining
    * the max|x| would be O(dim²) per row. */
  private def sq8Quantized(emb: DataFrame): DataFrame = emb
    .withColumn("s", lit(127.0) / greatest(
      array_max(transform(col("embedding"), x => abs(x.cast("double")))), lit(1e-30)))
    .withColumn("qv", transform(col("embedding"),
      x => floor(x.cast("double") * col("s") + lit(0.5))).cast("array<float>"))
    .withColumn("qnorm", sqrt(dotProduct(col("qv"), col("qv"))))

  def sq8Knn(spark: SparkSession, dir: String): DataFrame = {
    def quantized(emb: DataFrame): DataFrame = sq8Quantized(emb)
    val emb = quantized(Tables.embeddings(spark, dir))
    val q = quantized(Tables.embeddings(spark, dir).filter(col("vec_id") === 0))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("qv").as("q_qv"), col("qnorm").as("q_qnorm"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_cos", round(
        when(col("qnorm") * col("q_qnorm") === 0.0, 0.0)
          .otherwise(dotProduct(col("qv"), col("q_qv")) / (col("qnorm") * col("q_qnorm"))), 6))
      .withColumn("exact_cos", round(cosineSim(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("approx_cos"), col("exact_cos"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(10)
  }

  val sq8KnnSql: String = {
    val q = (v: String) =>
      s"list_transform($v, x -> floor(CAST(x AS DOUBLE) * (127.0 / greatest(" +
        s"list_max(list_transform($v, y -> abs(CAST(y AS DOUBLE)))), 1e-30)) + 0.5))"
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform($a, (x,i) -> x * $b[i]))"
    s"""WITH qv AS (SELECT vec_id, label, embedding, ${q("embedding")} AS qv
       |            FROM embeddings),
       |n AS (SELECT vec_id, label, embedding, qv,
       |        sqrt(${dot("qv", "qv")}) AS qnorm FROM qv),
       |query AS (SELECT qv AS q_qv, qnorm AS q_qnorm, embedding AS qe
       |          FROM n WHERE vec_id = 0)
       |SELECT b.vec_id, b.label,
       |  ROUND(CASE WHEN b.qnorm * query.q_qnorm = 0.0 THEN 0.0
       |    ELSE ${dot("b.qv", "query.q_qv")} / (b.qnorm * query.q_qnorm) END, 6) AS approx_cos,
       |  ROUND(${VectorSql.cosine("b.embedding", "query.qe")}, 6) AS exact_cos
       |FROM n b, query WHERE b.vec_id <> 0
       |ORDER BY approx_cos DESC, b.vec_id LIMIT 10""".stripMargin
  }

  /** Build the PERSISTED SQ8 code store if absent: (vec_id, label,
    * qcode array<tinyint>, qnorm) under the shared per-SF cache,
    * label-partitioned. The codes are the 4×-smaller artifact scalar
    * quantization exists for — INT8 parquet pages instead of float32
    * (the PQ/BQ persisted stores' byte-budget story, completing the
    * quantized family's persistence symmetry: IVF-PQ and BQ already
    * serve from persisted codes; SQ8 was in-memory only). Unlike PQ
    * there is NO codebook sidecar to train or retrain: a code row is a
    * pure per-vector function, so maintenance is plain row add/delete
    * (the lifecycle machinery [[graft.sources.IndexCatalog]] provides
    * needs nothing SQ8-specific — spec-gated by code-roundtrip
    * equality, not a new lifecycle family). */
  private[graft] def ensureSq8(spark: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val base = graft.sources.IndexCatalog.cacheBase(dir)
    val root = Paths.get(base, "emb-sq8")
    val marker = root.resolve("_sq8_index.json")
    if (!Files.exists(marker)) {
      // publish-if-absent: two concurrent first callers — e.g. parallel
      // sessions over the same shared SF cache — never interleave
      // mode=overwrite writes into the final path; the loser's rename
      // finds the store published and stands down, so a reader can never
      // see a partial code store
      graft.sources.Maintenance.publishIfAbsent(root.resolve("data"))(
        writeSq8(spark, dir))
      if (!Files.exists(marker))
        Files.writeString(marker, """{"name": "emb-sq8", "kind": "sq8", "bits": 8}""")
    }
    root.resolve("data").toString
  }

  /** Fleet-audit row for the persisted SQ8 code store: a code row is a
    * PURE PER-ROW function of the stored vector ([[sq8Quantized]] — no
    * codebook to drift), so the whole store audits with one full-outer
    * recompute against the embeddings: missing rows, surplus rows,
    * drifted codes, and drifted norms all land in the same counter.
    * `storePath` parameterized so the sensitivity spec can corrupt a
    * scratch copy (the shared cache is never touched). */
  private[graft] def sq8AuditFrame(spark: SparkSession, dir: String,
                                   storePath: String): DataFrame = {
    val stored = spark.read.parquet(storePath)
      .select(col("vec_id"), col("qcode"), col("qnorm"))
    val recomputed = sq8Quantized(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        col("qv").cast("array<tinyint>").as("rcode"), col("qnorm").as("rqnorm"))
    stored.join(recomputed, Seq("vec_id"), "full_outer")
      .agg(coalesce(sum(when(col("qcode").isNull || col("rcode").isNull ||
        col("qcode") =!= col("rcode") || col("qnorm") =!= col("rqnorm"),
        1L).otherwise(0L)), lit(0L)).as("violations"))
      .select(lit("vector").as("artifact"),
        lit("sq8_codes_match_vectors").as("invariant"), col("violations"))
  }

  /** REPAIR for a persisted SQ8 code store: a code row is a pure per-row
    * function of the stored vector (no codebook to retrain), so recovery
    * from code drift — the audit's sq8_codes_match_vectors finding — is
    * one re-encode of the vector primary — the derivation [[ensureSq8]]
    * publishes — swapped in by the staged Maintenance.replace. */
  private[graft] def rebuildSq8(spark: SparkSession, dir: String,
                                storePath: String): Unit =
    graft.sources.Maintenance.replace(java.nio.file.Paths.get(storePath))(
      writeSq8(spark, dir))

  /** Encode every stored vector into `dest` — the one SQ8 code-store
    * derivation the build and the repair share. */
  private def writeSq8(spark: SparkSession, dir: String)(dest: String): Unit =
    sq8Quantized(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        col("qv").cast("array<tinyint>").as("qcode"), col("qnorm"))
      .repartition(col("label"))
      .write.mode("overwrite").partitionBy("label").parquet(dest)

  /** Q-sq8-persisted: [[sq8Knn]] served from the persisted INT8 store —
    * identical results (SHARED oracle), different access path: the
    * approximate ranking pass scans code pages a quarter the byte size
    * of the float index, and only the 10 winners' full vectors are
    * fetched for the exact-rerank column (broadcast fetch-join against
    * the embeddings table — the PQ Shortlist discipline). Codes round-
    * trip the tinyint cast exactly (integers in [−127, 127]), so
    * persisted and in-memory arithmetic are bit-equal. */
  def sq8Persisted(spark: SparkSession, dir: String): DataFrame = {
    val store = spark.read.parquet(ensureSq8(spark, dir))
      .select(col("vec_id"), col("label"),
        col("qcode").cast("array<float>").as("qv"), col("qnorm"))
    val q = sq8Quantized(Tables.embeddings(spark, dir).filter(col("vec_id") === 0))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("qv").as("q_qv"), col("qnorm").as("q_qnorm"))
    val top = store.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_cos", round(
        when(col("qnorm") * col("q_qnorm") === 0.0, 0.0)
          .otherwise(dotProduct(col("qv"), col("q_qv")) / (col("qnorm") * col("q_qnorm"))), 6))
      .select(col("vec_id"), col("label"), col("approx_cos"), col("q_embedding"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(10)
    broadcast(top)
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      .withColumn("exact_cos", round(cosineSim(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("approx_cos"), col("exact_cos"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
  }

  /** Per-vector BINARY signature: sign bit per dimension, packed into two
    * 32-bit words held as BIGINTs. Two words, not one 64-bit pack, by
    * arithmetic necessity: bit 63 is 2⁶³, which overflows a signed-long
    * SUM in either engine — 32 bits per word keeps every partial sum
    * exact and the packing portable (and generalizes to any dim as
    * ⌈dim/32⌉ words). The pack is one map-side higher-order-function pass
    * per word — no shuffle, no UDF. */
  private def bqSigWords(vecCol: String): Seq[(String, Column)] = {
    def word(bitBase: Int): Column = expr(
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        s"acc + IF(element_at($vecCol, i + ${bitBase + 1}) > 0.0D, shiftleft(1L, i), 0L))")
    Seq("sig_lo" -> word(0), "sig_hi" -> word(32))
  }

  /** Hamming-shortlist size handed to exact rerank — the [[PqIndex]]
    * Shortlist discipline: a constant, not a corpus fraction (BQ's role is
    * to cut candidates to something rerank-able regardless of N). */
  val BqShortlist = 100

  /** Q-bq-knn: BINARY-QUANTIZED search — the 1-bit extreme of the
    * quantization family (SQ8 = 8 bits/dim, PQ = 1 byte/subspace, BQ =
    * 1 bit/dim): a 64-dim float vector (256 B) compresses to 8 B of sign
    * bits, so the approximate pass over a 100 TB float index touches
    * ~3 TB of signatures and scores them with XOR + POPCOUNT — integer
    * ALU ops, no FP at all (the RaBitQ/binary-hashing serving layout).
    * Hamming distance on sign bits estimates angle (each agreeing bit is
    * a hyperoctant agreement — the sign pattern IS a 64-plane axis-wise
    * LSH signature), so the [[BqShortlist]] nearest-by-Hamming candidates
    * are exact-cosine reranked and the top-10 emitted: the same
    * two-stage retrieval as [[PqIndex]], with a fully relational,
    * oracle-replayable first stage (unlike PQ's trained codebook).
    * Everything is codegen'd built-ins — pack (aggregate HOF), distance
    * (xor/bit_count), rerank (the shared cosine kernel); both stages'
    * tiebreaks are total (hamming asc, vec_id asc → score desc, vec_id
    * asc), so the oracle replays the exact pipeline. */
  def bqKnn(spark: SparkSession, dir: String): DataFrame = {
    def signed(emb: DataFrame): DataFrame =
      bqSigWords("embedding").foldLeft(emb) { case (d, (n, c)) => d.withColumn(n, c) }
    val base = signed(Tables.embeddings(spark, dir))
    val q = signed(Tables.embeddings(spark, dir).filter(col("vec_id") === 0))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hamming",
        bit_count(col("sig_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("sig_hi").bitwiseXOR(col("q_hi"))))
      .orderBy(col("hamming").asc, col("vec_id"))
      .limit(BqShortlist)
      .withColumn("score", round(cosineSim(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("hamming"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  val bqKnnSql: String = {
    // CAST to BIGINT: DuckDB's list_sum promotes to HUGEINT, and the
    // driver's type compare treats int128 as a distinct class
    def word(base: Int): String =
      s"CAST(list_sum(list_transform(range(32), i -> CASE WHEN embedding[i + ${base + 1}] > 0.0 " +
        s"THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"
    s"""WITH s AS (SELECT vec_id, label, embedding,
       |    ${word(0)} AS sig_lo,
       |    ${word(32)} AS sig_hi
       |  FROM embeddings),
       |q AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi, embedding AS qe
       |      FROM s WHERE vec_id = 0),
       |short AS (SELECT b.vec_id, b.label, b.embedding,
       |    bit_count(xor(b.sig_lo, q.q_lo)) + bit_count(xor(b.sig_hi, q.q_hi)) AS hamming,
       |    q.qe
       |  FROM s b, q WHERE b.vec_id <> 0
       |  ORDER BY hamming ASC, b.vec_id LIMIT $BqShortlist)
       |SELECT vec_id, label, hamming,
       |  ROUND(${cosSql("embedding", "qe")}, 6) AS score
       |FROM short ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Q-recall-eval: recall@5 of the multi-probe LSH search against exact
    * brute-force top-5 — the index-quality monitoring metric a production
    * vector store tracks per index build (the reference trusts Pinecone's
    * recall blindly; here it is a declared, oracle-checked query). Both
    * rankings are existing operators; the metric is one broadcast-sized
    * join and a global count. */
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    val ann = RandomHyperplaneLsh.annLshMultiProbe(spark, dir).select(col("vec_id"))
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val exact = KnnSearch.topK(emb, q, 5).select(col("vec_id"))
    ann.join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(5L).as("k"), col("n_hits"),
        round(col("n_hits").cast("double") / 5.0, 6).as("recall"))
  }

  val recallEvalSql: String =
    s"""WITH ann AS (SELECT vec_id FROM (${RandomHyperplaneLsh.annLshMultiProbeSql})),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
       |       ORDER BY ${cosSql("e.embedding", "qe")} DESC, e.vec_id LIMIT 5)
       |SELECT 5 AS k, COUNT(*) AS n_hits, ROUND(COUNT(*) / 5.0, 6) AS recall
       |FROM ann JOIN ex USING (vec_id)""".stripMargin

  /** Q-ann-batch: BATCHED ANN serving — many queries against the IVF
    * layout in ONE plan, the throughput path of a vector-database batch
    * API (the reference serves one query per REPL loop, `main.go:268`;
    * q_ann_ivf is the latency path). Each query ranks its own nprobe=4
    * probe buckets; the per-(query, centroid) probe table then restricts
    * the assigned index by a plain equi-join on the bucket id, so each
    * query scores only its probed fraction — and the scoring pass over
    * all M queries shares one scan of the assigned index.
    *
    * Scale shape: probes are M×nprobe rows (metadata — broadcast); the
    * index-side work is ONE scan + a WindowGroupLimit-pruned rank per
    * query, so M queries cost one corpus pass instead of M (amortized
    * exactly like any batched serving tier; against the PERSISTED index
    * the union of probed buckets becomes the PartitionFilter and the scan
    * reads |∪ probes|/k of the data). */
  def annBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val cent = seedCentroids(spark, dir)
    val queries = KnnSearch.withNorm(
      Tables.embeddings(spark, dir)
        .filter(col("vec_id").isin(0L, 7L, 13L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("p_score").desc, col("cent_id"))
    val probes = cent.crossJoin(broadcast(queries))
      .withColumn("p_score", cosineSimPrenormed(
        dotProduct(col("c_embedding"), col("q_embedding")),
        col("c_norm"), col("q_norm")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= 4)
      .select(col("q_id"), col("cent_id"))
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    IvfIndex.assign(emb, cent)
      .join(broadcast(probes), Seq("cent_id"))
      .join(broadcast(queries), Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", KnnSearch.prenormedScore)
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cent_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annBatchSql: String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 7, 13)),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |pr AS (
       |  SELECT q_id, cent_id FROM (
       |    SELECT q.q_id, cent.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |                         ORDER BY ${cos("cent.ce", "q.qe")} DESC, cent.cent_id) AS pr
       |    FROM cent CROSS JOIN q)
       |  WHERE pr <= 4),
       |res AS (
       |  SELECT q.q_id, a.vec_id, a.label, a.cent_id,
       |    ROUND(${cos("a.embedding", "q.qe")}, 6) AS score
       |  FROM a1 a JOIN pr ON a.cent_id = pr.cent_id
       |  JOIN q ON q.q_id = pr.q_id
       |  WHERE a.vec_id <> q.q_id),
       |rk AS (
       |  SELECT q_id, vec_id, label, cent_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |                       ORDER BY score DESC, vec_id) AS rank
       |  FROM res)
       |SELECT q_id, rank, vec_id, label, cent_id, score
       |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** Q-ann-batch-auto: the BATCHED form of optimizer routing — the same
    * naive SQL a user writes for multi-query serving (an inline VALUES
    * query table, per-query ROW_NUMBER rank, `WHERE rank <= 10`; the
    * q_ann_batch shape, which has no global Sort+Limit and so never
    * matched the single-query rewrite) routed by [[graft.plans
    * .AnnRouting]]'s window-rank pattern: per-query probe sets are
    * computed at plan time from the literal query table (capped at
    * [[graft.plans.AnnRouting.BatchRouteCap]] queries — above it the
    * exact plan stands), a per-(q_id, bucket) predicate above the join
    * enforces that each query ranks only its OWN probed buckets, and the
    * probe-set UNION lands on the scan as the partition filter. Pinned to
    * q_ann_batch's oracle: routed batch serving must equal the
    * programmatic batched IVF search row for row. */
  private[graft] def annBatchAutoFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val rows = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(0L, 7L, 13L))
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(r => s"(${r.getLong(0)}L, ${floatArraySqlLiteral(r.getSeq[Float](1))})")
      .mkString(",\n         ")
    spark.sql(
      s"""WITH q AS (SELECT * FROM VALUES
         |         $rows AS t(q_id, qe)),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, e.label, CAST(e.bucket AS BIGINT) AS cent_id,
         |    ROUND(${sparkCosineSql("e.embedding", "q.qe")}, 6) AS score
         |  FROM emb_indexed e CROSS JOIN q
         |  WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |                               ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, label, cent_id, score FROM ranked
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)
  }

  def annBatchAuto(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      annBatchAutoFrame(spark, dir))
  }

  /** Overload threshold for [[ivfDrift]]: a bucket holding > 1.5× its
    * fair share is flagged for split/rebalance. */
  val IvfBalanceThreshold = 1.5

  /** Q-ivf-drift: IVF index BALANCE MONITOR — the maintenance query a
    * deployment runs nightly against the persisted index to decide when to
    * retrain centroids. IVF query cost is proportional to the probed
    * buckets' sizes, so a bucket grown past its fair share (data drift
    * after the centroids were trained) silently degrades every query that
    * probes it; this emits per-bucket occupancy, corpus share, balance
    * ratio vs the ideal uniform share, and an overload flag at
    * [[IvfBalanceThreshold]].
    *
    * Scale shape: the scan reads ONLY the partition columns of the
    * persisted index (COUNT(*) grouped by the partition column — no vector
    * bytes move; at 100 TB this is a manifest/footer-sized job), then one
    * 16-row aggregate broadcast back over the counts. The oracle replays
    * the full assignment from the base table (the q_ann_ivf CTE) and must
    * agree with what the persisted layout actually contains — so a green
    * row ALSO proves the stored index is consistent with its definition,
    * which is the other half of what an index health check is for. */
  def ivfDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    balanceTable(IndexCatalog.load(spark, base, name))
  }

  /** ONE per-bucket balance computation shared by the monitor
    * (q_ivf_drift) and the rebuild verifier (q_ivf_rebuild) — a threshold
    * or rounding change must reach both ends of the monitor/actuator pair
    * through this definition. */
  private[graft] def balanceTable(idx: DataFrame): DataFrame = {
    val counts = idx
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(
      sum(col("n_vectors")).cast("double").as("total"),
      count(lit(1)).cast("double").as("n_buckets"))
    val ratio = col("n_vectors") * col("n_buckets") / col("total")
    counts.crossJoin(broadcast(tot))
      .select(
        col("bucket"),
        col("n_vectors"),
        round(col("n_vectors") / col("total"), 6).as("share"),
        round(ratio, 6).as("balance"),
        when(ratio > IvfBalanceThreshold, 1).otherwise(0).as("overloaded"))
      .orderBy(col("bucket"))
  }

  /** The balance-table oracle, parametrized by the centroid set the
    * persisted layout is expected to realize (q_ivf_drift: the 16 seed
    * centroids; q_ivf_rebuild: the 16 stride centroids the rebuild
    * re-trains onto). */
  private def balanceOracleSql(centWhere: String): String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE $centWhere),
       |asg AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |c AS (SELECT cent_id AS bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |      FROM asg WHERE rn = 1 GROUP BY cent_id),
       |t AS (SELECT CAST(SUM(n_vectors) AS DOUBLE) AS total,
       |             CAST(COUNT(*) AS DOUBLE) AS n_buckets FROM c)
       |SELECT bucket, n_vectors,
       |  ROUND(n_vectors / total, 6) AS share,
       |  ROUND(n_vectors * n_buckets / total, 6) AS balance,
       |  CASE WHEN n_vectors * n_buckets / total > $IvfBalanceThreshold
       |       THEN 1 ELSE 0 END AS overloaded
       |FROM c, t ORDER BY bucket""".stripMargin
  }

  val ivfDriftSql: String = balanceOracleSql("vec_id < 16")

  /** The PLANTED-DRIFT index for q_ivf_rebuild: a deliberately degenerate
    * bucketing (vectors 0..2 each alone in a bucket, EVERYTHING else in
    * bucket 3 — the extreme form of what data drift does to a
    * trained-once layout) with a stale 4-centroid sidecar. Its own index
    * name, never shared with the q_knn_auto/q_ann_ivf_persisted family:
    * the rebuild REWRITES the data tree, and rewriting the shared index
    * would desynchronize every oracle that replays its seed-centroid
    * assignment. */
  private def ensureDriftedIndex(spark: SparkSession, dir: String): (String, String) = {
    import graft.sources.IndexCatalog
    val base = IndexCatalog.cacheBase(dir)
    val name = "emb-ivf-rebuild"
    if (!IndexCatalog.exists(base, name)) {
      val data = Tables.embeddings(spark, dir)
        .withColumn("bucket", least(col("vec_id"), lit(3L)))
      IndexCatalog.createIfAbsent(spark, base,
        IndexCatalog.IndexDescriptor(name, 64, "cosine"), data,
        partitionCols = Seq("bucket"))
    }
    if (!IndexCatalog.hasCentroids(base, name))
      IndexCatalog.writeCentroids(spark, base, name,
        Tables.embeddings(spark, dir).filter(col("vec_id") < 4)
          .select(col("vec_id").as("cent_id"), col("embedding").as("c_embedding")))
    (base, name)
  }

  /** The deterministic re-training target for q_ivf_rebuild: 16 stride
    * centroids (vec_id 0, 5, …, 75) — a stand-in for k-means output that
    * the oracle can replay exactly (Lloyd means are not bit-replayable
    * across engines; [[graft.sources.Maintenance.rebuildIvfTrained]] is
    * the production k-means path, spec-gated instead). */
  private def strideCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < 80)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_embedding"))

  /** Q-ivf-rebuild: the REBUILD/REBALANCE operator closing q_ivf_drift's
    * monitor loop (r9 verdict gap #2). Starting from the planted-drift
    * layout (one bucket holding ~all vectors — the monitor would flag it
    * at balance ≈ n_buckets), [[graft.sources.Maintenance.rebuildIvf]]
    * re-assigns every vector to 16 new centroids, swaps in the rewritten
    * partition tree, refreshes the centroid sidecar, and invalidates the
    * routing caches. The declared result is the post-rebuild balance
    * table read from the PERSISTED layout, so a green row proves the
    * rewritten tree equals its definition (the q_ivf_drift consistency
    * discipline applied to the rebuild output); the planted-drift
    * before/after and the routed-search-after-rebuild behavior are
    * spec-gated in IvfRebuildSpec. */
  def ivfRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IndexCatalog, Maintenance}
    val (base, name) = ensureDriftedIndex(spark, dir)
    Maintenance.rebuildIvf(spark, base, name, strideCentroids(spark, dir))
    balanceTable(IndexCatalog.load(spark, base, name))
  }

  val ivfRebuildSql: String = balanceOracleSql("vec_id % 5 = 0 AND vec_id < 80")

  /** Persisted seed-assigned index for the DELETE lifecycle — its own
    * name so the delete never mutates the layouts the search queries
    * share. Partitioned by bucket only (the layout delete discovery
    * prunes on). */
  private def ensureDeleteIndex(spark: SparkSession, dir: String): (String, String) = {
    import graft.sources.IndexCatalog
    val base = IndexCatalog.cacheBase(dir)
    val name = "emb-ivf-delete"
    if (!IndexCatalog.exists(base, name)) {
      val data = IvfIndex.assign(index(spark, dir), seedCentroids(spark, dir))
        .withColumnRenamed("cent_id", "bucket")
        .drop("vec_norm")
      IndexCatalog.createIfAbsent(spark, base,
        IndexCatalog.IndexDescriptor(name, 64, "cosine"), data,
        partitionCols = Seq("bucket"))
    }
    (base, name)
  }

  /** Q-index-delete: DELETE-BY-ID over the persisted index — the API
    * sibling of the reference's upsert (Pinecone `vectors/delete`; the
    * reference's loop only ever posts upserts, `upsert/upsert.go:154-190`,
    * but writes into an index whose API deletes by the same ids). Two
    * phases, split the way any 100 TB delete must be:
    * [[graft.sources.IndexCatalog.tombstone]] appends the key set as a
    * tombstone file — O(|keys|) I/O, no partition rewrite, and every
    * search stops seeing the keys immediately via one broadcast anti-join
    * in `load` — then [[graft.sources.IndexCatalog.vacuumTombstones]]
    * folds the tombstones into the physical layout, rewriting ONLY the
    * partitions that hold a deleted key (upsertInto's touched-partition
    * discipline) and clearing the anti-join overhead. The declared result
    * is the full post-vacuum stored state, so a green row proves the
    * rewritten tree equals its definition (assignment replay minus the
    * deleted keys); the pre-vacuum visibility, untouched-partition
    * mtimes, emptied-directory cleanup, and delete-then-reupsert revival
    * are spec-gated in IndexDeleteSpec. Idempotent across runs: deleting
    * already-absent keys folds to a no-op. */
  def indexDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name) = ensureDeleteIndex(spark, dir)
    val keys = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 97 === 0).select(col("vec_id"))
    IndexCatalog.tombstone(spark, base, name, keys)
    IndexCatalog.vacuumTombstones(spark, base, name)
    IndexCatalog.load(spark, base, name)
      .select(col("vec_id"), col("label"), col("bucket").cast("long").as("bucket"))
      .orderBy(col("vec_id"))
  }

  val indexDeleteSql: String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT e.vec_id, e.label, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c)
       |SELECT vec_id, label, cent_id AS bucket FROM asg
       |WHERE rn = 1 AND vec_id % 97 <> 0
       |ORDER BY vec_id""".stripMargin
  }

  /** Radius threshold for q_radius — compared on the ROUNDED score, so
    * both engines admit the identical row set (a raw-double boundary
    * comparison would let a last-ulp difference flip membership). */
  val RadiusTau = 0.2

  /** Q-radius: RANGE SEARCH — every vector within a similarity radius of
    * the query (cosine ≥ τ), not a fixed top-K. The query type Milvus/
    * pgvector expose alongside kNN and the right primitive for "all
    * near-duplicates of this document" (a duplicate set's size is
    * data-dependent; a top-K would truncate or pad it). Same scored scan
    * as q_knn, but the K-row TakeOrderedAndProject becomes a selective
    * filter on the rounded score: no global sort bound, result size ∝
    * matches. At 100 TB this compiles to scan + filter (embarrassingly
    * parallel, no shuffle until the final output order), and composes
    * with any ANN layout exactly as top-K does (probe, then filter by τ
    * instead of ranking). */
  def radius(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val q = KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", KnnSearch.prenormedScore)
      .filter(col("score") >= RadiusTau)
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  val radiusSql: String = {
    import VectorSql.{cosine => cos}
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, e.label, ROUND(${cos("e.embedding", "q.qe")}, 6) AS score
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
       |SELECT vec_id, label, score FROM scored
       |WHERE score >= $RadiusTau
       |ORDER BY score DESC, vec_id""".stripMargin
  }

  /** Q-radius-auto: OPTIMIZER-ROUTED RANGE SEARCH — the q_knn_auto
    * contract applied to q_radius's query type: the user writes the naive
    * similarity-range SQL (`WHERE score >= τ ORDER BY score DESC` over
    * the full registered index, no probes, no bucket predicate) and
    * [[graft.plans.AnnRouting]]'s RADIUS arm rewrites the FILTER into the
    * probed scan: the τ lower bound names the query vector through the
    * same monotone-wrapper discipline as the sort-based arm, plan-time
    * probe selection picks the nprobe=4 buckets, and `bucket IN (...)`
    * lands as PartitionFilters. Registering the index opts range queries
    * into the IVF recall trade exactly as it does top-K — matches in
    * unprobed buckets are unreachable, which the oracle states by
    * replaying probe selection and applying τ INSIDE the probed buckets.
    * Opposite-sense bounds (`score <= τ`, "far from the query") are
    * negative-tested to decline in AnnRoutingSpec. */
  private[graft] def radiusAutoFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(${sparkCosineSql("embedding", qLit)}, 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0)
         |SELECT vec_id, label, cent_id, score FROM scored
         |WHERE score >= $RadiusTau
         |ORDER BY score DESC, vec_id""".stripMargin)
  }

  def radiusAuto(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      radiusAutoFrame(spark, dir))
  }

  val radiusAutoSql: String = {
    import VectorSql.{cosine => cos}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |pr AS (SELECT cent_id FROM cent, q
       |       ORDER BY ${cos("cent.ce", "q.qe")} DESC, cent_id LIMIT 4),
       |res AS (SELECT a.vec_id, a.label, a.cent_id,
       |          ROUND(${cos("a.embedding", "q.qe")}, 6) AS score
       |        FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |        WHERE a.vec_id <> q.q_id)
       |SELECT vec_id, label, cent_id, score FROM res
       |WHERE score >= $RadiusTau
       |ORDER BY score DESC, vec_id""".stripMargin
  }

  /** Raw-inner-product radius threshold for q_radius_dot — near the p99
    * of this corpus's dot distribution, so the admitted set is small and
    * data-dependent (the range-query point). Compared on the ROUNDED
    * score like [[RadiusTau]]. */
  val DotRadiusTau = 0.25

  /** Q-radius-dot: OPTIMIZER-ROUTED MIPS RANGE SEARCH — the symmetry
    * completion of the routing matrix: q_radius_auto proved the RADIUS
    * arm for cosine geometry and q_dot_auto proved the MIPS probe model
    * for top-K; this query composes them. The user writes the naive
    * inner-product range SQL (`WHERE vec_dot(...) ≥ τ ORDER BY score
    * DESC`, no probes) and the radius arm routes it with the SAME
    * norm-aware Cauchy–Schwarz bound probes as q_dot_auto — under
    * cosine-geometry probes a high-norm vector in an angularly-distant
    * bucket would be unreachable, exactly the vector an inner-product
    * radius exists to admit. Declines on residual-less sidecars and on
    * LSH-kind (angular) routes; opposite-sense bounds (`vec_dot ≤ τ`)
    * decline — all spec-gated. The oracle replays the routed semantics:
    * cosine assignment, per-bucket max residual, bound-ranked probe
    * selection, τ applied to the raw dot INSIDE the probed buckets. */
  private[graft] def radiusDotFrame(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexCatalog
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.GraftExtensions.register(spark)
    IndexCatalog.load(spark, base, name).createOrReplaceTempView("emb_indexed")
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val qLit = floatArraySqlLiteral(qVec)
    spark.sql(
      s"""WITH scored AS (
         |  SELECT vec_id, label, CAST(bucket AS BIGINT) AS cent_id,
         |    ROUND(vec_dot(embedding, $qLit), 6) AS score
         |  FROM emb_indexed WHERE vec_id <> 0)
         |SELECT vec_id, label, cent_id, score FROM scored
         |WHERE score >= $DotRadiusTau
         |ORDER BY score DESC, vec_id""".stripMargin)
  }

  def radiusDot(spark: SparkSession, dir: String): DataFrame = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.withRoute(spark, base, name, nprobe = 4)(
      radiusDotFrame(spark, dir))
  }

  val radiusDotSql: String = {
    import VectorSql.{cosine => cos, dot, l2dist, norm}
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                       ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e, cent c),
       |a1 AS (SELECT vec_id, label, embedding, cent_id FROM asg WHERE rn = 1),
       |mr AS (SELECT a.cent_id, MAX(${l2dist("a.embedding", "c.ce")}) AS resid
       |       FROM a1 a JOIN cent c ON a.cent_id = c.cent_id GROUP BY a.cent_id),
       |pr AS (SELECT cent.cent_id FROM cent LEFT JOIN mr ON cent.cent_id = mr.cent_id
       |       CROSS JOIN q
       |       ORDER BY ${dot("cent.ce", "q.qe")} + ${norm("q.qe")} * COALESCE(mr.resid, 0.0)
       |         DESC, cent.cent_id LIMIT 4),
       |res AS (SELECT a.vec_id, a.label, a.cent_id,
       |          ROUND(${dot("a.embedding", "q.qe")}, 6) AS score
       |        FROM a1 a JOIN pr ON a.cent_id = pr.cent_id CROSS JOIN q
       |        WHERE a.vec_id <> q.q_id)
       |SELECT vec_id, label, cent_id, score FROM res
       |WHERE score >= $DotRadiusTau
       |ORDER BY score DESC, vec_id""".stripMargin
  }

  /** Q-maxsim: LATE-INTERACTION MULTI-VECTOR RETRIEVAL (the ColBERT
    * MaxSim operator) — documents and queries are SETS of vectors, and a
    * document scores `Σ_{q ∈ Q} max_{d ∈ D} cos(q, d)`: each query vector
    * independently finds its best-matching document vector, and the sum
    * rewards documents that cover ALL the query's aspects. The retrieval
    * model between single-vector search (q_knn — one global embedding
    * loses aspect structure) and full cross-attention (not expressible as
    * precomputed vectors at all). Multi-vector groups here are the
    * vec_id DIV 4 slices — a deterministic stand-in for "one embedding
    * per passage chunk".
    *
    * FP disciplines: the inner max compares ROUNDED per-pair scores
    * (orderless max over identical doubles is engine-stable), and the
    * outer sum is a fixed-order pivot chain over the 4 query-vector slots
    * (the q_bm25 rule — never an orderless double SUM).
    *
    * Scale shape: the query's vector set broadcasts (it is query-sized);
    * one corpus scan scores all pairs map-side, then ONE partial-
    * aggregated groupBy(doc) computes all per-slot maxima — the per-pair
    * frame never shuffles, only |docs| × 4 maxima do. Composes with any
    * ANN layout by restricting the scan to probed candidates first. */
  def maxSim(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir).withColumn("g", expr("vec_id DIV 4"))
    val qv = KnnSearch.withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding")),
      "q_embedding").withColumnRenamed("vec_norm", "q_norm")
    val slots = (0 to 3).map(k =>
      max(when(col("q_id") === k, col("s"))).as(s"m$k"))
    val perDoc = emb.filter(col("g") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("s", KnnSearch.prenormedScore)
      .groupBy(col("g"))
      .agg(slots.head, slots.tail: _*)
    val chain = (0 to 3).map(k => coalesce(col(s"m$k"), lit(0.0))).reduce(_ + _)
    perDoc
      .select(col("g").as("doc"), round(chain, 6).as("score"))
      .orderBy(col("score").desc, col("doc"))
      .limit(10)
  }

  val maxSimSql: String = {
    import VectorSql.{cosine => cos}
    val slots = (0 to 3)
      .map(k => s"MAX(CASE WHEN q_id = $k THEN s END) AS m$k")
      .mkString(",\n       |    ")
    val chain = (0 to 3).map(k => s"COALESCE(m$k, 0.0)").mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |pairs AS (
       |  SELECT e.vec_id // 4 AS g, q.q_id,
       |    ROUND(${cos("e.embedding", "q.qe")}, 6) AS s
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id // 4 <> 0),
       |per_doc AS (
       |  SELECT g,
       |    $slots
       |  FROM pairs GROUP BY g)
       |SELECT g AS doc, ROUND($chain, 6) AS score FROM per_doc
       |ORDER BY score DESC, doc LIMIT 10""".stripMargin
  }

  /** MMR trade-off weights. The complement is a LITERAL, not `1 - lambda`
    * (whose IEEE value 0.30000000000000004 would diverge from the oracle's
    * 0.3), so both engines compute bit-identical scores. */
  val MmrLambda = 0.7
  val MmrComplement = 0.3

  /** Q-mmr-rerank: MAXIMAL MARGINAL RELEVANCE diversity re-ranking — the
    * standard fix for a top-K that returns five near-copies of the same
    * document (Carbonell & Goldstein 1998). From the exact top-20 cosine
    * shortlist for query vector 0, greedily select 5: each step takes the
    * candidate maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` (ties →
    * lowest vec_id), so every later pick is pulled away from what is
    * already selected.
    *
    * Scale shape: the candidate shortlist comes from the DISTRIBUTED
    * search path (brute-force here; any ANN variant composes identically),
    * and only the bounded 20-row shortlist — scores and 20×20 pairwise
    * sims, all computed by the same native kernels as every other vector
    * query — crosses the driver for the inherently-sequential greedy loop
    * (the PQ-codebook discipline: bounded metadata through the driver,
    * never corpus-sized data). Both rel and sim are rounded to the
    * engine-portable 6 places BEFORE the greedy arithmetic, so selection
    * compares identical doubles in both engines; the oracle unrolls the
    * 5 greedy steps as chained CTEs over the same rounded inputs. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = index(spark, dir)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val shortlist = KnnSearch.topK(emb, q, 20)
      .join(emb.select(col("vec_id"), col("embedding"), col("vec_norm")),
        Seq("vec_id"))
      .select(col("vec_id"), col("score"), col("embedding"), col("vec_norm"))
      .localCheckpoint(true) // 20 rows; don't re-run the search per branch
    val a = shortlist.select(col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("vec_norm").as("a_norm"))
    val b = shortlist.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("vec_norm").as("b_norm"))
    val simRows = a.crossJoin(broadcast(b))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(graft.functions.VectorFunctions.cosineSimPrenormed(
          graft.functions.VectorFunctions.dotProduct(col("a_emb"), col("b_emb")),
          col("a_norm"), col("b_norm")), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rel = shortlist.select(col("vec_id"), col("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      .sortBy(_._1)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    for (_ <- 1 to math.min(5, rel.size)) { // a sub-5 shortlist returns all of it
      val pick = rel
        .filterNot { case (id, _) => selected.exists(_._1 == id) }
        .map { case (id, r) =>
          // first pick has NO diversity term (oracle s1: 0.7*rel, no
          // subtraction); later picks subtract the TRUE max pairwise sim,
          // which can be negative — never clamp at 0, the oracle's MAX()
          // doesn't
          val mmr =
            if (selected.isEmpty) MmrLambda * r
            else MmrLambda * r -
              MmrComplement * selected.map(s => simRows((id, s._1))).max
          (id, r, mmr)
        }
        .minBy { case (id, _, mmr) => (-mmr, id) }
      selected += pick
    }
    import spark.implicits._
    selected.toIndexedSeq.zipWithIndex
      .map { case ((id, r, mmr), i) => (i + 1, id, r, mmr) }
      .toDF("rank", "vec_id", "rel", "mmr")
      // Spark's own round, so display rounding pairs with DuckDB's ROUND
      // exactly as in every other score column (never a hand-rolled
      // rint, whose half-even ties diverge)
      .select(col("rank"), col("vec_id"), col("rel"),
        round(col("mmr"), 6).as("mmr"))
      .orderBy(col("rank"))
  }

  val mmrRerankSql: String = {
    import VectorSql.{cosine => cos}
    // step k: among candidates not yet selected, take the max-MMR row
    // (ties -> lowest vec_id) given the selection so far
    def step(sel: String, out: String): String =
      s"""$out AS (
         |  SELECT c.vec_id, c.rel,
         |    $MmrLambda * c.rel - $MmrComplement * (
         |      SELECT MAX(sim) FROM sim
         |      WHERE sim.a_id = c.vec_id
         |        AND sim.b_id IN (SELECT vec_id FROM $sel)) AS mmr
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $sel)
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, ROUND(${cos("e.embedding", "qe")}, 6) AS rel, e.embedding
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT 20),
       |sim AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ROUND(${cos("a.embedding", "b.embedding")}, 6) AS sim
       |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel, $MmrLambda * rel AS mmr
       |       FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |${step("sel1", "s2")},
       |sel2 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM s2),
       |${step("sel2", "s3")},
       |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
       |${step("sel3", "s4")},
       |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
       |${step("sel4", "s5")}
       |SELECT rank, vec_id, rel, ROUND(mmr, 6) AS mmr FROM (
       |  SELECT 1 AS rank, * FROM s1 UNION ALL
       |  SELECT 2, * FROM s2 UNION ALL
       |  SELECT 3, * FROM s3 UNION ALL
       |  SELECT 4, * FROM s4 UNION ALL
       |  SELECT 5, * FROM s5)
       |ORDER BY rank""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_batch" -> (annBatch _),
    "q_ann_batch_auto" -> (annBatchAuto _),
    "q_ann_filtered" -> (annFiltered _),
    "q_knn_filtered" -> (knnFiltered _),
    "q_ivf_drift" -> (ivfDrift _),
    "q_ivf_rebuild" -> (ivfRebuild _),
    "q_index_delete" -> (indexDelete _),
    "q_radius" -> (radius _),
    "q_maxsim" -> (maxSim _),
    "q_radius_auto" -> (radiusAuto _),
    "q_radius_dot" -> (radiusDot _),
    "q_mmr_rerank" -> (mmrRerank _),
    "q_sq8_knn" -> (sq8Knn _),
    "q_sq8_persisted" -> (sq8Persisted _),
    "q_bq_knn" -> (bqKnn _),
    "q_recall_eval" -> (recallEval _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_knn" -> (knn _),
    "q_hybrid" -> (hybrid _),
    "q_sql_knn" -> (sqlKnn _),
    "q_knn_l2" -> (knnL2 _),
    "q_knn_dot" -> (knnDot _),
    "q_knn_join" -> (knnJoin _),
    "q_knn_join_large" -> (knnJoinLarge _),
    "q_fetch" -> (fetch _),
    "q_fetch_batch" -> (fetchBatch _),
    "q_fetch_indexed" -> (fetchIndexed _),
    "q_index_stats" -> (indexStats _),
    "q_upsert" -> (upsert _),
    "q_sparse" -> (sparse _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_ivf_persisted" -> (annIvfPersisted _),
    "q_knn_auto" -> (knnAuto _),
    "q_knn_auto_tuned" -> (knnAutoTuned _),
    "q_l2_auto" -> (l2Auto _),
    "q_dot_auto" -> (dotAuto _),
    "q_knn_auto_filtered" -> (knnAutoFiltered _),
    "q_knn_meta" -> (knnMeta _),
    "q_cluster_mix" -> (clusterMix _))

  /** PlanDump-only views of the routed queries: the declared query
    * functions eagerly checkpoint inside `AnnRouting.withRoute` (the
    * per-session epilogue discipline), which collapses their dumped plan
    * to `Scan ExistingRDD`. These register the route, hand back the LAZY
    * frame so the dumped plan shows the injected probe PartitionFilters,
    * and leave unregistration to the dumper. */
  private[graft] def planFrames: Map[String, (SparkSession, String) => DataFrame] = {
    def routed(frame: (SparkSession, String) => DataFrame,
               nprobe: Int = 4)
        : (SparkSession, String) => DataFrame = (s, d) => {
      val (base, name, _) = ensureIvfBucketed(s, d)
      graft.plans.AnnRouting.register(s, base, name, nprobe)
      frame(s, d) // route dropped by PlanDump after the dump completes
    }
    Map(
      "q_knn_auto" -> routed(knnAutoFrame),
      "q_knn_auto_tuned" -> routed(knnAutoFrame, nprobe = IvfTune.TunedNprobe),
      "q_l2_auto" -> routed(l2AutoFrame),
      "q_dot_auto" -> routed(dotAutoFrame),
      "q_knn_auto_filtered" -> routed(knnAutoFilteredFrame),
      "q_ann_batch_auto" -> routed(annBatchAutoFrame),
      "q_radius_auto" -> routed(radiusAutoFrame),
      "q_radius_dot" -> routed(radiusDotFrame))
  }

  /** Drop the PlanDump-registered route for `dir`'s shared IVF index
    * (the dumper's per-entry epilogue — called only for names this
    * object's planFrames registered, so it never touches, or builds,
    * another family's index). */
  private[graft] def dropPlanRoutes(spark: SparkSession, dir: String): Unit = {
    val (base, name, _) = ensureIvfBucketed(spark, dir)
    graft.plans.AnnRouting.unregister(spark, base, name)
  }

  def oracles: Map[String, String] = Map(
    "q_ann_batch" -> annBatchSql,
    // the routed batch must land on the programmatic batched search's
    // exact rows — naive window-rank SQL in, per-query probed plan out
    "q_ann_batch_auto" -> annBatchSql,
    "q_ann_filtered" -> annFilteredSql,
    "q_knn_filtered" -> knnFilteredSql,
    "q_ivf_drift" -> ivfDriftSql,
    "q_ivf_rebuild" -> ivfRebuildSql,
    "q_index_delete" -> indexDeleteSql,
    "q_radius" -> radiusSql,
    "q_maxsim" -> maxSimSql,
    "q_radius_auto" -> radiusAutoSql,
    "q_radius_dot" -> radiusDotSql,
    "q_mmr_rerank" -> mmrRerankSql,
    "q_sq8_knn" -> sq8KnnSql,
    // q_sq8_persisted: q_sq8_knn's oracle verbatim — the persisted INT8
    // codes must serve the identical ranking
    "q_sq8_persisted" -> sq8KnnSql,
    "q_bq_knn" -> bqKnnSql,
    "q_recall_eval" -> recallEvalSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_knn" -> knnSql,
    "q_hybrid" -> hybridSql,
    "q_sql_knn" -> sqlKnnSql,
    "q_knn_l2" -> knnL2Sql,
    "q_knn_dot" -> knnDotSql,
    "q_knn_join" -> knnJoinSql,
    "q_knn_join_large" -> knnJoinLargeSql,
    "q_fetch" -> fetchSql,
    "q_fetch_batch" -> fetchBatchSql,
    "q_fetch_indexed" -> fetchBatchSql,
    "q_index_stats" -> indexStatsSql,
    "q_upsert" -> upsertSql,
    "q_sparse" -> sparseSql,
    "q_ann_ivf" -> annIvfSql,
    // same oracle as q_ann_ivf: the persisted bucket-partitioned layout
    // changes the access path (partition pruning), never the result
    "q_ann_ivf_persisted" -> annIvfSql,
    // and the optimizer-routed form must land on the identical result —
    // naive SQL in, probed-IVF plan out (AnnRouting)
    "q_knn_auto" -> annIvfSql,
    // the tuned depth's probed replay (degenerates to exact at full fanout
    // — the sweep's honest choice on seed centroids, spec-pinned)
    "q_knn_auto_tuned" -> knnAutoTunedSql,
    // the euclidean route replays its own probe geometry (L2 probes, L2
    // ranking) over the same cosine-built layout
    "q_l2_auto" -> l2AutoSql,
    // the MIPS route replays the norm-aware bound probes + raw-dot ranking
    "q_dot_auto" -> dotAutoSql,
    // routed + filtered must equal the programmatic filtered-IVF search:
    // same probes, the predicate restricts candidates inside them
    "q_knn_auto_filtered" -> annFilteredSql,
    "q_knn_meta" -> knnMetaSql,
    "q_cluster_mix" -> clusterMixSql)
}
