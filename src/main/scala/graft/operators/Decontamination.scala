package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Train-vs-eval decontamination at PROBE cost — the deployment shape of
  * benchmark hygiene: the eval suite is indexed ONCE (it changes rarely
  * and is tiny next to the training corpus), and every training batch
  * probes the stored index. Two channels, the standard pair:
  *
  *  - **n-gram**: the eval side's distinct hashed k-shingles
  *    ([[Dedup.hashedShinglePairs]]); a batch document is flagged on any
  *    shared shingle (GPT-3/PaLM-style exact-overlap decontamination).
  *  - **semantic**: the eval side's embeddings, cell-assigned against a
  *    centroid table ([[Similarity.assignCells]]); a batch vector is
  *    flagged when a SAME-CELL eval vector reaches cosine `tau`
  *    (SemDeDup-style, [[SemDedup]]) — catches paraphrases that share no
  *    n-gram.
  *
  * Cost ∝ probe side BY CONSTRUCTION: [[probe]] never receives the eval
  * corpus — only the persisted index (distinct shingle hashes +
  * cell-bucketed eval vectors, both eval-suite-sized). Each batch is
  * shingled/assigned once and equi-joined against the index; the eval
  * documents are never re-read, re-shingled, or re-embedded. The shingle
  * set broadcasts (eval suites are MBs); the vector join shuffles on the
  * cell id with per-cell candidate verification only.
  *
  * Cell assignment itself scales past broadcast-sized geometries: up to
  * [[RouteThreshold]] centroids the flat max-cosine pass
  * ([[Similarity.assignCells]], n·nlist kernel work) is exact and cheap;
  * beyond it the two-level router ([[Similarity.assignCellsRouted]],
  * ~2n·√nlist) takes over — with nlist ∝ n that is n^1.5 instead of n².
  * Both sides of the index (eval vectors at build, batch vectors at
  * probe) go through the SAME dial against the SAME stored centroids, so
  * a near-identical train/eval pair routes to the same cell.
  */
object Decontamination {

  /** Centroid-table size beyond which cell assignment routes through the
    * two-level [[Similarity.assignCellsRouted]] (probes = 2) instead of
    * the flat broadcast pass. 1024 centroids × 64 double dims ≈ 0.5 MB —
    * comfortably broadcast-sized below the bound; above it the flat
    * n·nlist kernel cost is what turns a centroids-∝-corpus fixture
    * quadratic (the round-9 q186-verbatim 540 s x100 row: that fixture's
    * geometry reaches nlist = 2000 at x100, so the dial must sit BELOW
    * it — the first routed bound of 2048 missed by 48 and the leg stayed
    * flat-quadratic).
    */
  val RouteThreshold: Int = 1024

  private def assign(vecs: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, routeThreshold: Int): DataFrame = {
    val nlist = cents.count() // dimension-sized scalar: centroid count
    if (nlist <= routeThreshold) Similarity.assignCells(vecs, cents, idCol, vecCol)
    else Similarity.assignCellsRouted(vecs, cents, idCol, vecCol, probes = 2)
  }

  private def shinglesDir(root: String) = s"$root/shingles"
  private def vectorsDir(root: String) = s"$root/vectors"
  private def centroidsDir(root: String) = s"$root/centroids"

  /** Index the eval suite once: distinct hashed k-shingles, cell-assigned
    * eval vectors, and the centroid table (persisted so probes replay the
    * same assignment geometry).
    */
  def buildIndex(evalDocs: DataFrame, textCol: String, idCol: String, k: Int,
      evalEmb: DataFrame, centroids: DataFrame, root: String,
      embIdCol: String = "vec_id", vecCol: String = "embedding",
      routeThreshold: Int = RouteThreshold): Unit = {
    // The three index legs are INDEPENDENT jobs (guide §2.6: actions are
    // only sequential because the driver calls them sequentially) — run
    // them together so the shingle leg's tail back-fills with the
    // vector/centroid legs instead of leaving the cluster idle. Every leg
    // is awaited before a failure surfaces: none is still writing then.
    graft.DriverPool.all(evalDocs.sparkSession)(
      () => Dedup.hashedShinglePairs(evalDocs, textCol, idCol, k)
        .select(col("sh")).distinct()
        .write.mode(SaveMode.Overwrite).parquet(shinglesDir(root)),
      () => assign(evalEmb, centroids, embIdCol, vecCol, routeThreshold)
        .select(col("cell"), col(embIdCol).as("eval_id"),
          col(vecCol).as("eval_vec"))
        .write.mode(SaveMode.Overwrite).parquet(vectorsDir(root)),
      () => centroids.write.mode(SaveMode.Overwrite).parquet(centroidsDir(root)))
  }

  /** Probe one training batch against the stored index. `batchDocs`
    * carries (idCol, textCol); `batchEmb` carries (embIdCol = same id
    * space, vecCol). Returns one row per batch document:
    * (id, n_overlap, ngram_hit, n_sem, sem_hit, contaminated).
    */
  def probe(spark: SparkSession, batchDocs: DataFrame, textCol: String,
      idCol: String, k: Int, batchEmb: DataFrame, root: String,
      tau: Double, embIdCol: String = "vec_id",
      vecCol: String = "embedding",
      routeThreshold: Int = RouteThreshold): DataFrame = {
    // n-gram channel: batch shingles vs the broadcast eval shingle set
    val evalShingles = spark.read.parquet(shinglesDir(root))
    val ngram = Dedup.hashedShinglePairs(batchDocs, textCol, idCol, k)
      .join(broadcast(evalShingles), Seq("sh"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))

    // semantic channel: assign the batch with the STORED centroids, then
    // same-cell cosine vs the stored eval vectors
    val cents = spark.read.parquet(centroidsDir(root))
    val evalVecs = spark.read.parquet(vectorsDir(root))
    val assigned = assign(batchEmb, cents, embIdCol, vecCol, routeThreshold)
    val sem = assigned
      .join(evalVecs, Seq("cell"))
      .filter(graft.expressions.CosineSimilarity(
        col(vecCol), col("eval_vec")) >= tau)
      .groupBy(col(embIdCol).as("id")).agg(count(lit(1)).as("n_sem"))

    batchDocs.select(col(idCol).as("id"))
      .join(ngram, Seq("id"), "left")
      .join(sem, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).cast("int").as("ngram_hit"),
        coalesce(col("n_sem"), lit(0L)).as("n_sem"),
        (coalesce(col("n_sem"), lit(0L)) > 0).cast("int").as("sem_hit"),
        (coalesce(col("n_overlap"), lit(0L)) > 0 ||
          coalesce(col("n_sem"), lit(0L)) > 0).cast("int").as("contaminated"))
  }
}
