package graft

import java.util.Properties

import graft.hadoop.{GraftClassicFormats, GraftClassicInputFormat, GraftHiveOutputFormat,
  GraftSerDe, GraftStorageHandler}
import org.apache.hadoop.hive.ql.plan.{ExprNodeColumnDesc, ExprNodeConstantDesc,
  ExprNodeDesc, ExprNodeGenericFuncDesc}
import org.apache.hadoop.hive.ql.udf.generic.{GenericUDFOPAnd, GenericUDFOPGreaterThan}
import org.apache.hadoop.hive.serde2.typeinfo.TypeInfoFactory
import org.apache.hadoop.io.MapWritable
import org.apache.hadoop.mapred.{FileInputFormat => OldFileInputFormat, JobConf, Reporter}
import org.apache.spark.sql.functions._

/** The Hive surface (EsStorageHandler analog) driven through the raw
  * Hive contracts — SerDe object inspectors, getHiveRecordWriter, the
  * mapred-classic input format, decomposePredicate — no Hive runtime
  * and no Spark in the read/write loop (the HadoopFormatsSpec pattern). */
class HiveHandlerSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "ghv"

  import spark.implicits._

  private val COLS = "doc_id,text,n_chars"
  private val TYPES = "bigint:string:bigint"

  private def serde(): GraftSerDe = {
    val p = new Properties()
    p.setProperty("columns", COLS)
    p.setProperty("columns.types", TYPES)
    val s = new GraftSerDe()
    s.initialize(new JobConf(false), p)
    s
  }

  private def readAll(dir: String, conf: JobConf): Seq[(String, MapWritable)] = {
    conf.set("graft.mapping.id", "doc_id")
    OldFileInputFormat.setInputPaths(conf, new org.apache.hadoop.fs.Path(dir))
    val fmt = new GraftClassicInputFormat()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, MapWritable)]
    fmt.getSplits(conf, 2).foreach { split =>
      val rr = fmt.getRecordReader(split, conf, Reporter.NULL)
      val k = rr.createKey(); val v = rr.createValue()
      while (rr.next(k, v)) out += ((k.toString, new MapWritable(v)))
      rr.close()
    }
    out.toSeq
  }

  test("storage handler: Hive-style WRITE (SerDe + getHiveRecordWriter) then READ (classic format + SerDe)") {
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_hive").toString
    val handler = new GraftStorageHandler()
    assert(handler.getInputFormatClass == classOf[GraftClassicInputFormat])
    assert(handler.getSerDeClass == classOf[GraftSerDe])

    // job properties as Hive would configure them from the table desc
    val tbl = new Properties()
    tbl.setProperty("columns", COLS)
    tbl.setProperty("columns.types", TYPES)
    tbl.setProperty("graft.mapping.id", "doc_id")
    val sd = serde()

    // write 5 rows through the Hive record-writer contract: Hive hands
    // the SerDe's serialize output straight to the writer
    val conf = new JobConf(false)
    conf.set("graft.output.schema", graft.hadoop.GraftHiveTypes.parquetSchema(COLS, TYPES))
    val w = new GraftHiveOutputFormat().getHiveRecordWriter(
      conf, new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet"),
      classOf[MapWritable], false, tbl, null)
    val soi = sd.getObjectInspector
    val rows = (1L to 5L).map { i =>
      val r = new java.util.ArrayList[AnyRef]()
      r.add(java.lang.Long.valueOf(i)); r.add(s"doc number $i")
      r.add(java.lang.Long.valueOf(10 + i))
      r
    }
    rows.foreach(r => w.write(sd.serialize(r, soi)))
    w.close(false)

    // read back through the classic input format + deserialize
    val got = readAll(dir, new JobConf(false)).map { case (k, m) =>
      val struct = sd.deserialize(m).asInstanceOf[java.util.ArrayList[AnyRef]]
      (k.toLong, struct.get(1).asInstanceOf[String], struct.get(2).asInstanceOf[java.lang.Long].longValue())
    }
    assert(got.sortBy(_._1) == (1L to 5L).map(i => (i, s"doc number $i", 10 + i)))

    // and Spark agrees on the same files (schema + values)
    val viaSpark = spark.read.parquet(dir)
      .select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect().toSet
    assert(viaSpark == got.toSet)
  }

  test("decomposePredicate: comparison conjuncts push as filter JSON, residual keeps the full predicate") {
    val handler = new GraftStorageHandler()
    def col(n: String) = new ExprNodeColumnDesc(TypeInfoFactory.longTypeInfo, n, "t", false)
    def lit(v: Long) = new ExprNodeConstantDesc(TypeInfoFactory.longTypeInfo, java.lang.Long.valueOf(v))
    def gt(l: ExprNodeDesc, r: ExprNodeDesc) = {
      val kids = new java.util.ArrayList[ExprNodeDesc](); kids.add(l); kids.add(r)
      new ExprNodeGenericFuncDesc(TypeInfoFactory.booleanTypeInfo, new GenericUDFOPGreaterThan(), kids)
    }
    val cmp = gt(col("doc_id"), lit(2L))
    val flipped = gt(lit(4L), col("doc_id")) // 4 > doc_id == doc_id < 4
    val kids = new java.util.ArrayList[ExprNodeDesc](); kids.add(cmp); kids.add(flipped)
    val both = new ExprNodeGenericFuncDesc(
      TypeInfoFactory.booleanTypeInfo, new GenericUDFOPAnd(), kids)

    val d = handler.decomposePredicate(new JobConf(false), null, both)
    assert(d != null && d.pushedPredicate != null)
    assert(d.residualPredicate eq both) // full predicate stays — pushdown is IO-only
    val json = d.pushedPredicateObject.asInstanceOf[String]
    assert(json ==
      """[{"col":"doc_id","op":"gt","val":"2","type":"int64"},{"col":"doc_id","op":"lt","val":"4","type":"int64"}]""")
  }

  test("pushdown JSON reaches the parquet scan: classic reader returns only matching rows") {
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_hivepd").toString + "/idx"
    Tables.documents(spark, sfDir).limit(50).select("doc_id", "text", "n_chars")
      .write.parquet(dir)

    val conf = new JobConf(false)
    conf.set(GraftClassicFormats.PushdownKey,
      """[{"col":"doc_id","op":"gt","val":"10","type":"int64"},{"col":"doc_id","op":"ltEq","val":"20","type":"int64"}]""")
    val got = readAll(dir, conf).map(_._1.toLong).sorted
    val expect = spark.read.parquet(dir).where(col("doc_id") > 10 && col("doc_id") <= 20)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == expect && got.nonEmpty)

    // a filter on an unknown column degrades to a FULL read (the
    // residual predicate owns correctness), never an error
    val conf2 = new JobConf(false)
    conf2.set(GraftClassicFormats.PushdownKey,
      """[{"col":"no_such_col","op":"gt","val":"10","type":"int64"}]""")
    assert(readAll(dir, conf2).size == 50)
  }

  test("configureOutputJobProperties derives the parquet schema from Hive column metadata") {
    val handler = new GraftStorageHandler()
    val props = new Properties()
    props.setProperty("columns", "id,name,score,ok")
    props.setProperty("columns.types", "bigint:string:double:boolean")
    props.setProperty("graft.mapping.id", "id")
    val td = new org.apache.hadoop.hive.ql.plan.TableDesc()
    td.setProperties(props)
    val jobProps = new java.util.HashMap[String, String]()
    handler.configureOutputJobProperties(td, jobProps)
    assert(jobProps.get("graft.mapping.id") == "id")
    assert(jobProps.get("graft.output.schema") ==
      "message doc { optional int64 id; optional binary name (UTF8); optional double score; optional boolean ok; }")
  }
}
