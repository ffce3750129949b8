package graft

import java.nio.file.Files

import graft.rdd.GraftRddApi.implicits._
import org.apache.spark.sql.functions._

class RddApiSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "grd"


  test("RDD roundtrip: saveToGraft maps -> graftRDD (id, fields) pairs") {
    val dir = Files.createTempDirectory(specRoot, "graft_rdd").toString + "/idx"
    val docs: Seq[Map[String, Any]] = Seq(
      Map("id" -> 1L, "name" -> "alpha", "score" -> 0.5),
      Map("id" -> 2L, "name" -> "beta", "score" -> 1.5, "extra" -> "x"),
      Map("id" -> 3, "name" -> "gamma")) // Int id widens to long
    spark.sparkContext.parallelize(docs).saveToGraft(dir, Map("graft.mapping.id" -> "id"))

    val back = spark.graftRDD(dir, idField = "id").collect().toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(2L)("extra") == "x")
    assert(back(2L)("score") == 1.5)
    assert(!back(3L).contains("score")) // nulls are absent fields, like _source
    assert(back(3L)("name") == "gamma")
  }

  test("RDD writes share connector upsert semantics") {
    val dir = Files.createTempDirectory(specRoot, "graft_rdd2").toString + "/idx"
    spark.sparkContext.parallelize(Seq[Map[String, Any]](
      Map("id" -> 1L, "v" -> "old"), Map("id" -> 2L, "v" -> "keep")))
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    spark.sparkContext.parallelize(Seq[Map[String, Any]](
      Map("id" -> 1L, "v" -> "new")))
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    val m = spark.graftRDD(dir, idField = "id").collect().toMap
    assert(m(1L)("v") == "new" && m(2L)("v") == "keep")
  }

  test("graftRDD applies the ES query before the map conversion") {
    val dir = Files.createTempDirectory(specRoot, "graft_rdd3").toString + "/idx"
    Tables.documents(spark, sfDir).write.parquet(dir)
    val en = spark.graftRDD(dir, """{"term": {"lang": "en"}}""", idField = "doc_id")
    val direct = Tables.documents(spark, sfDir)
      .where(col("lang") === "en").count()
    assert(en.count() == direct && direct > 0)
  }

  test("inferSchema widens long/double conflicts and rejects incompatible ones") {
    val dir = Files.createTempDirectory(specRoot, "graft_rdd4").toString + "/idx"
    // field `v` arrives as Int in one doc and Double in another: the
    // merged mapping must be double regardless of partition order
    spark.sparkContext.parallelize(Seq[Map[String, Any]](
      Map("id" -> 1L, "v" -> 2), Map("id" -> 2L, "v" -> 0.5)), 2)
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    val m = spark.graftRDD(dir, idField = "id").collect().toMap
    assert(m(1L)("v") == 2.0 && m(2L)("v") == 0.5)

    val bad = spark.sparkContext.parallelize(Seq[Map[String, Any]](
      Map("id" -> 1L, "v" -> "text"), Map("id" -> 2L, "v" -> 7)), 2)
    val err = intercept[Exception] {
      bad.saveToGraft(dir + "_bad", Map("graft.mapping.id" -> "id"))
    }
    // the conflict may surface wrapped in a SparkException — check the
    // whole cause chain for the descriptive message
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(err).contains("dynamic-mapping conflict for field 'v'"))
  }

  test("JSON RDD forms: saveJsonToGraft roundtrips through graftJsonRDD; malformed loud") {
    val dir = Files.createTempDirectory(specRoot, "graft_rdd_json").toString + "/idx"
    val docs = Seq(
      """{"id": 1, "name": "alpha", "score": 0.5}""",
      """{"id": 2, "name": "beta"}""")
    spark.sparkContext.parallelize(docs)
      .saveJsonToGraft(dir, Map("graft.mapping.id" -> "id"))
    val back = spark.graftJsonRDD(dir, idField = "id").collect().toMap
    assert(back.keySet == Set(1L, 2L))
    // re-parse: the JSON string carries the document (null fields absent)
    val one = back(1L)
    assert(one.contains("\"name\":\"alpha\"") && one.contains("\"score\":0.5"))
    assert(!back(2L).contains("score"))
    // id resolution goes through the same bulk path: re-writing id 1
    // upserts, not duplicates
    spark.sparkContext.parallelize(Seq("""{"id": 1, "name": "ALPHA"}"""))
      .saveJsonToGraft(dir, Map("graft.mapping.id" -> "id"))
    val after = spark.graftJsonRDD(dir, idField = "id").collect().toMap
    assert(after.size == 2 && after(1L).contains("ALPHA"))
    // malformed document: loud, never a silent drop
    val err = intercept[Exception] {
      spark.sparkContext.parallelize(Seq("""{"id": 3, "name": """))
        .saveJsonToGraft(dir + "_bad", Map("graft.mapping.id" -> "id"))
    }
    assert(err != null)
  }
}
