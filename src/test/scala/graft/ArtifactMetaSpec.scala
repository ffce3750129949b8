package graft

import graft.index.{ArtifactKind, IndexArtifacts, PackedCodec}
import org.apache.spark.sql.functions._

/** On-disk compatibility of the artifact commit point: every artifact
  * kind stamps `_graft_meta.json` with one fixed layout (key order,
  * number formatting), and artifacts written in that layout must keep
  * loading. Also pins the shared append audit: a colliding-id append
  * rebuilds every packed codec instead of dropping the collided row. */
class ArtifactMetaSpec extends SparkSpec with SpecTempRoot {

  override protected def tempRootPrefix = "gam"
  private lazy val root = specRoot.toString

  // 6 docs, 21 tokens, 4-dim vectors (PQ m=2 splits them; k=4 <= 6 docs)
  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma", Seq(0.9, -0.3, 0.05, 0.4)),
      (2L, "delta epsilon zeta eta", Seq(-1.0, 1.0, 0.5, -0.5)),
      (3L, "theta iota", Seq(0.2, 0.1, -0.7, 0.3)),
      (4L, "kappa lambda mu nu xi", Seq(2.0, 1.9, -2.0, 0.1)),
      (5L, "omicron pi rho", Seq(-0.4, -0.6, 0.8, 0.9)),
      (6L, "sigma tau upsilon phi", Seq(0.5, 0.5, 0.5, -0.5)))
      .toDF("id", "text", "vec")
  }

  private def save(out: String, opts: (String, String)*): Unit =
    graft.sources.Connector.save(corpus, out,
      Map("graft.write.operation" -> "overwrite", "graft.mapping.id" -> "id") ++ opts)

  private def meta(dir: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_meta.json")), "UTF-8")

  /** Through the Hadoop FS API like the writers, so the local FS's
    * checksum sidecar stays consistent with the new bytes. */
  private def overwriteMeta(dir: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_graft_meta.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** (artifact dir, expected meta with `FP` for the fingerprint, fresh load). */
  private def kinds(out: String): Seq[(String, String, () => Boolean)] = Seq(
    (IndexArtifacts.analysisDir(out, "text"),
      """{"fingerprint":"FP","id_col":"id","text_col":"text","ids_clean":true,""" +
        """"n_docs":6,"n_dl":6,"dl_sum":21.0}""",
      () => IndexArtifacts.loadAnalysis(spark, out, "text", Some("id")).exists(_.idsClean)),
    (IndexArtifacts.minhashDir(out, "text"),
      """{"fingerprint":"FP","id_col":"id","text_col":"text","num_hashes":32,"bands":8}""",
      () => IndexArtifacts.loadMinhash(spark, out, "text", Some("id")).isDefined),
    (IndexArtifacts.vectorsDir(out, "vec"),
      """{"fingerprint":"FP","id_col":"id","vec_col":"vec"}""",
      () => IndexArtifacts.loadIvf(spark, out, "vec", Some("id")).isDefined),
    (IndexArtifacts.pqDir(out, "vec"),
      """{"fingerprint":"FP","id_col":"id","vec_col":"vec","m":2,"k":4,""" +
        """"fit":"sample","fit_sample_n":65536,"fit_iters":5}""",
      () => IndexArtifacts.loadPq(spark, out, "vec", Some("id")).isDefined)) ++
    PackedCodec.all.map(c => (IndexArtifacts.packedDir(c, out, "vec"),
      """{"fingerprint":"FP","id_col":"id","vec_col":"vec"}""",
      () => IndexArtifacts.loadPacked(spark, c, out, "vec", Some("id")).isDefined))

  test("every artifact kind writes the stable meta layout, and that layout loads") {
    val out = s"$root/all_kinds"
    save(out,
      "graft.index.analysis" -> "text",
      "graft.index.minhash" -> "text",
      "graft.index.vectors" -> "vec",
      "graft.index.vectors.centroids" -> "2",
      "graft.index.pq" -> "vec",
      "graft.index.pq.m" -> "2",
      "graft.index.pq.k" -> "4",
      "graft.index.int4" -> "vec",
      "graft.index.int8" -> "vec",
      "graft.index.bbq" -> "vec")
    val fp = IndexArtifacts.dataFingerprint(spark, out)
    assert(fp.matches("[0-9a-f]{32}"))
    val all = kinds(out)
    assert(all.size == 7)
    all.foreach { case (dir, layout, load) =>
      assert(meta(dir) == layout.replace("FP", fp), dir)
      // a meta written byte-for-byte in the stable layout loads ...
      overwriteMeta(dir, layout.replace("FP", fp))
      assert(load(), s"stable-layout meta must load: $dir")
      // ... and a stale fingerprint in the same layout does not
      overwriteMeta(dir, layout.replace("FP", "0" * 32))
      assert(!load(), s"stale meta must not load: $dir")
      overwriteMeta(dir, layout.replace("FP", fp))
    }
  }

  test("a colliding-id append rebuilds every packed codec through the shared audit") {
    PackedCodec.all.foreach { codec =>
      val out = s"$root/collide_${codec.name}"
      save(out, s"graft.index.${codec.name}" -> "vec")
      // a raw append reusing an existing id: the anti-join alone would
      // drop this row from the artifact behind a fresh meta stamp
      corpus.where(col("id") === 1L).withColumn("text", lit("collided"))
        .write.mode("append").parquet(out)
      spark.catalog.refreshByPath(out)
      IndexArtifacts.maintain(spark, ArtifactKind.Packed(codec), out, "id", "vec", append = true)
      val packed = IndexArtifacts.loadPacked(spark, codec, out, "vec", Some("id"))
      assert(packed.isDefined, codec.name)
      assert(packed.get.count() == 7, s"${codec.name}: rebuild must cover every data row")
      assert(packed.get.where(col("id") === 1L).count() == 2, codec.name)
    }
  }

  test("an analysis dir with the df and stats tables an earlier layout wrote loads, scores and rebuilds clean") {
    val fresh = s"$root/analysis_fresh"
    val legacy = s"$root/analysis_legacy"
    Seq(fresh, legacy).foreach(save(_, "graft.index.analysis" -> "text"))
    // the earlier layout: df counted from the postings, a 1-row stats
    // table, beside today's postings, doclen and meta
    val dir = IndexArtifacts.analysisDir(legacy, "text")
    val postings = spark.read.parquet(s"$dir/postings")
    postings.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      .write.parquet(s"$dir/df")
    postings.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      .write.parquet(s"$dir/stats")
    def listing = new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet
    assert(listing == Set("postings", "doclen", "df", "stats", "_graft_meta.json"))
    assert(IndexArtifacts.loadAnalysis(spark, legacy, "text", Some("id")).isDefined)
    def scores(out: String) = graft.search.Search
      .bm25ScoresIndexed(spark, out, "id", "text", "alpha theta omicron pi")
      .orderBy(col("id")).collect().toSeq
    assert(scores(legacy) == scores(fresh) && scores(legacy).size == 3)
    IndexArtifacts.maintain(spark, ArtifactKind.Analysis, legacy, "id", "text", append = false)
    assert(listing == Set("postings", "doclen", "_graft_meta.json"))
    assert(scores(legacy) == scores(fresh))
  }

  test("an append over an artifact whose build died before its meta rebuilds it") {
    val out = s"$root/no_meta"
    val opts = Seq("graft.index.minhash" -> "text", "graft.index.pq" -> "vec",
      "graft.index.pq.m" -> "2", "graft.index.pq.k" -> "4")
    save(out, opts: _*)
    // a build that died between its tables and its meta: the tables
    // (shingles/, codes/) stand, no commit point
    val dirs = Seq(IndexArtifacts.minhashDir(out, "text"), IndexArtifacts.pqDir(out, "vec"))
    dirs.foreach(d => new java.io.File(s"$d/_graft_meta.json").delete())
    graft.sources.Connector.save(
      corpus.where(col("id") === 6L).withColumn("id", lit(7L)), out,
      Map("graft.write.operation" -> "append", "graft.mapping.id" -> "id") ++ opts)
    assert(IndexArtifacts.loadMinhash(spark, out, "text", Some("id"))
      .exists(_._1.where(col("id") === 7L).count() == 1))
    assert(IndexArtifacts.loadPq(spark, out, "vec", Some("id")).exists(_._3.count() == 7))
  }
}
