package graft

import java.nio.file.Files

import graft.sources.Connector
import graft.sources.Connector.implicits._
import org.apache.spark.sql.functions._

/** Pins for the r13 hardening pass over the connector: each test is a
  * regression guard for a defect found by adversarial review — the
  * silent-wrong-results class the DuckDB oracle can't see (PIT +
  * pattern interplay, alias filters across maintenance ops, bulk
  * determinism, schema drift). */
class ConnectorHardeningSpec extends SparkSpec with SpecTempRoot {
  import spark.implicits._

  override protected def tempRootPrefix = "gh"

  test("pattern reads exclude retired generations, pits and spool machinery") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_pat").toString
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").saveToGraft(s"$base/logs-1", cfg)
    // open a PIT (creates logs-1_graft_pits), then swap-upsert so the
    // pinned generation retires to logs-1_graft_retired_<uuid>
    val pit = Connector.openPit(spark, s"$base/logs-1")
    Seq((1L, "a2"), (3L, "c")).toDF("id", "v").saveToGraft(s"$base/logs-1", cfg)
    // the pattern read must see ONLY the live generation: 3 docs, not
    // 3 + 2 stale ones from the retired dir (and not crash on the
    // plain-text pits manifests)
    val got = spark.graftDF(s"$base/logs-*").select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (2L, "b"), (3L, "c")), s"got $got")
    // the PIT itself still serves the pinned snapshot
    assert(Connector.pitDF(spark, s"$base/logs-1", pit)
      .select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    Connector.closePit(spark, s"$base/logs-1", pit)
    // cat listings apply the same machinery rule
    val listed = Connector.catIndices(spark, base)
      .select("index").as[String].collect().toSet
    assert(listed == Set("logs-1"), s"catIndices listed $listed")
  }

  test("saveDynamic rejects path-unsafe resolved names before ANY target writes") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_dyn").toString
    val batch = Seq((1L, "image"), (2L, "video/mp4"), (3L, "audio"))
      .toDF("id", "media_type")
    val e = intercept[IllegalArgumentException] {
      Connector.saveDynamic(batch, base, "media-{media_type}",
        Map("graft.write.operation" -> "append"))
    }
    assert(e.getMessage.contains("path-unsafe"))
    // validation fired BEFORE the first save: no index dir exists, so
    // a retry can't double-append the targets that sorted first
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filterNot(_.contains("_graft_")).toSeq
    assert(dirs.isEmpty, s"targets written before validation: $dirs")
  }

  test("rollover carries the alias filter to the next generation") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_roll").toString
    Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L))
      .toDF("id", "tenant", "n").write.parquet(s"$base/idx-000001")
    Connector.putAlias(spark, s"$base/write_a", s"$base/idx-000001",
      """{"term": {"tenant": "a"}}""")
    assert(Connector.rollover(spark, s"$base/write_a", maxDocs = 2))
    // repointed to idx-000002 AND still filtered: reads through the
    // alias keep excluding tenant b even after the generation flip
    Seq((4L, "a", 4L), (5L, "b", 5L))
      .toDF("id", "tenant", "n").write.mode("append").parquet(s"$base/idx-000002")
    val viaAlias = spark.graftDF(s"$base/write_a").select("id").as[Long].collect().toSet
    assert(viaAlias == Set(4L), s"alias filter lost on rollover: $viaAlias")
  }

  test("upsert into an existing index resolves in-batch duplicate ids by arrival order") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_dup").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "orig")).toDF("id", "v").saveToGraft(base, cfg)
    // the same id twice in one batch: bulk order says the LAST wins —
    // deterministically, on every run
    (1 to 5).foreach { _ =>
      Seq((1L, "first"), (1L, "last")).toDF("id", "v").saveToGraft(base, cfg)
      val v = spark.read.parquet(base).where(col("id") === 1L)
        .select("v").as[String].collect().toSeq
      assert(v == Seq("last"), s"in-batch duplicate resolved to $v")
    }
  }

  test("snapshot restore retires a PIT-pinned generation instead of deleting it") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_snap").toString
    val idx = s"$base/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a")).toDF("id", "v").saveToGraft(idx, cfg)
    Connector.snapshotCreate(spark, idx, s"$base/repo", "snap1")
    // mutate, pin the mutated generation with a PIT, then restore
    Seq((2L, "b")).toDF("id", "v").saveToGraft(idx, cfg)
    val pit = Connector.openPit(spark, idx)
    Connector.snapshotRestore(spark, s"$base/repo", "snap1", "idx", idx)
    // live = snapshot state; PIT = pre-restore snapshot, NOT deleted
    assert(spark.read.parquet(idx).select("id").as[Long].collect().toSet == Set(1L))
    assert(Connector.pitDF(spark, idx, pit).select("id").as[Long].collect().toSet
      == Set(1L, 2L))
    Connector.closePit(spark, idx, pit)
  }

  test("op=update is a PARTIAL merge: omitted columns keep their stored values") {
    val dir = Files.createTempDirectory(specRoot, "graft_hard_upd").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "alice", "a@x.io"), (2L, "bob", "b@x.io"))
      .toDF("id", "name", "email").saveToGraft(dir, cfg)
    // the batch omits `email` and adds `age`: ES _update merges the
    // partial doc — email must SURVIVE, not be nulled by a row replace
    Seq((1L, "alice2", 30L)).toDF("id", "name", "age")
      .saveToGraft(dir, cfg + ("graft.write.operation" -> "update"))
    val rows = spark.read.parquet(dir).orderBy("id")
      .select("id", "name", "email", "age")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.toSeq == Seq((1L, "alice2", "a@x.io", 30L), (2L, "bob", "b@x.io", -1L)),
      s"partial merge broken: ${rows.toSeq}")
  }

  test("pattern reads tolerate schema drift between indices (nulls, like ES)") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_drift").toString
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$base/d-1")
    Seq((2L, 9L)).toDF("id", "b").write.parquet(s"$base/d-2")
    val got = spark.graftDF(s"$base/d-*")
    assert(got.columns.toSet == Set("id", "a", "b"))
    assert(got.where(col("id") === 2L).select("a").first().isNullAt(0))
    assert(got.count() == 2L)
  }

  test("delete/update _by_query through a filtered alias touch only the alias view") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_alias").toString
    val idx = s"$base/idx"
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 10L))
      .toDF("id", "tenant", "n").write.parquet(idx)
    Connector.putAlias(spark, s"$base/tenant_a", idx, """{"term": {"tenant": "a"}}""")
    // delete n=10 through the alias: tenant b's n=10 doc must survive
    Connector.deleteByQuery(spark, s"$base/tenant_a",
      """{"term": {"n": 10}}""", Map("graft.mapping.id" -> "id"))
    val ids = spark.read.parquet(idx).select("id").as[Long].collect().toSet
    assert(ids == Set(2L, 3L), s"delete_by_query crossed the alias filter: $ids")
    // update through the alias: only tenant a rows change
    Connector.updateByQuery(spark, s"$base/tenant_a",
      """{"range": {"n": {"gte": 0}}}""", Map("n" -> lit(99L)),
      Map("graft.mapping.id" -> "id"))
    val ns = spark.read.parquet(idx).orderBy("id")
      .select("id", "n").as[(Long, Long)].collect().toSeq
    assert(ns == Seq((2L, 99L), (3L, 10L)), s"update_by_query crossed the filter: $ns")
  }

  test("readMetadata _index reports each row's concrete index, alias resolved") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_meta").toString
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$base/m-1")
    Seq((2L, "y")).toDF("id", "v").write.parquet(s"$base/m-2")
    Connector.putAlias(spark, s"$base/al", s"$base/m-2")
    val meta = spark.graftDF(s"$base/m-1,$base/al", idField = "id", readMetadata = true)
      .select(col("id"), col("_index")).as[(Long, String)].collect().toMap
    assert(meta(1L).endsWith("/m-1"), s"row 1 _index = ${meta(1L)}")
    assert(meta(2L).endsWith("/m-2"), s"alias not resolved in _index: ${meta(2L)}")
    // source filtering does not strip hit metadata
    val inc = spark.graftDF(s"$base/m-1,$base/m-2", idField = "id",
      fieldInclude = Seq("id"), readMetadata = true)
    assert(inc.columns.contains("_index"))
  }

  test("readMetadata composes with a FULL scoring body: one _score, body's value wins") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_bodymeta").toString
    Seq((1L, "fast hash join plan"), (2L, "slow nested loop"), (3L, "fast merge"))
      .toDF("id", "text").write.parquet(s"$base/idx")
    // a body carrying a scoring section (min_score) plus a match query:
    // SearchBody emits the composed _score; the metadata path must NOT
    // join a second bm25 _score on top (was: ambiguous-reference crash)
    val out = spark.graftDF(s"$base/idx",
      query = """{"query": {"match": {"text": "fast"}}, "min_score": 0.0}""",
      idField = "id", readMetadata = true)
    assert(out.columns.count(_ == "_score") == 1)
    val rows = out.select(col("id"), col("_score"), col("_index"))
      .as[(Long, Double, String)].collect()
    assert(rows.map(_._1).toSet == Set(1L, 3L))
    assert(rows.forall(_._2 > 0.0))
    assert(rows.forall(_._3.endsWith("/idx")))
    // a body that prunes _source still carries _id/_index metadata
    val pruned = spark.graftDF(s"$base/idx",
      query = """{"query": {"match": {"text": "fast"}}, "min_score": 0.0,
                  "_source": false}""",
      idField = "id", readMetadata = true)
    assert(pruned.columns.contains("_index") && pruned.columns.contains("_id"))
    assert(pruned.count() == 2)
  }

  test("readMetadata + aggs/suggest body fails with a named error, not a missing id") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_aggmeta").toString
    Seq((1L, "en"), (2L, "de")).toDF("id", "lang").write.parquet(s"$base/idx")
    val e = intercept[IllegalArgumentException] {
      spark.graftDF(s"$base/idx",
        query = """{"aggs": {"l": {"terms": {"field": "lang"}}}, "size": 0}""",
        idField = "id", readMetadata = true).collect()
    }
    assert(e.getMessage.contains("es.read.metadata"), e.getMessage)
  }

  test("a missing index raises the read's own error; missingAsEmpty and empty patterns read as zero hits") {
    val base = Files.createTempDirectory(specRoot, "graft_hard_missing")
    try {
      val missing = s"$base/nope"
      val direct = intercept[Exception](spark.read.format("parquet").load(missing))
      val viaGraft = intercept[Exception](spark.graftDF(missing))
      assert(direct.isInstanceOf[org.apache.spark.sql.AnalysisException])
      assert(viaGraft.getClass == direct.getClass)
      assert(viaGraft.getMessage == direct.getMessage)
      assert(spark.graftDF(missing, missingAsEmpty = true).count() == 0L)
      val none = spark.graftDF(s"$base/nothing-*")
      assert(none.columns.isEmpty && none.count() == 0L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
