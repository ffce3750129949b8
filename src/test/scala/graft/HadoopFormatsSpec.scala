package graft

import graft.hadoop.{GraftInputFormat, GraftOutputFormat}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, MapWritable, Text}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}

/** The MapReduce-classic surface (EsInput/OutputFormat analogs) driven
  * directly through the Hadoop format contracts — splits, record
  * readers, the FileOutputFormat commit protocol — no job runner. */
class HadoopFormatsSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "ghf"

  import spark.implicits._

  private def taskCtx(conf: Configuration) = new TaskAttemptContextImpl(
    conf, new TaskAttemptID(new TaskID(new JobID("graft", 1), TaskType.MAP, 0), 0))

  test("GraftInputFormat reads a Spark-written index as (id, MapWritable) pairs") {
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_mrin").toString + "/idx"
    val docs = Tables.documents(spark, sfDir).limit(40)
    graft.sources.Connector.save(docs, dir, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      // artifact dir present on purpose: the hidden-path filter must
      // keep _graft_* machinery out of the splits
      "graft.index.analysis" -> "text"))

    val job = Job.getInstance(new Configuration(false))
    job.getConfiguration.set("graft.mapping.id", "doc_id")
    FileInputFormat.addInputPath(job, new org.apache.hadoop.fs.Path(dir))
    val fmt = new GraftInputFormat()
    val splits = fmt.getSplits(new JobContextImpl(job.getConfiguration, new JobID("graft", 1)))
    assert(splits.size() > 0)

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    splits.forEach { split =>
      val ctx = taskCtx(job.getConfiguration)
      val rr = fmt.createRecordReader(split, ctx)
      rr.initialize(split, ctx)
      while (rr.nextKeyValue()) {
        val m = rr.getCurrentValue
        rows += ((
          rr.getCurrentKey.toString.toLong,
          m.get(new Text("text")).toString,
          m.get(new Text("n_chars")).asInstanceOf[LongWritable].get()))
      }
      rr.close()
    }
    val expect = docs.select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect().toSet
    assert(rows.toSet == expect && rows.size == 40)
  }

  test("GraftOutputFormat writes through the commit protocol; Spark reads it back") {
    val out = java.nio.file.Files.createTempDirectory(specRoot, "graft_mrout").toString + "/idx"
    val conf = new Configuration(false)
    conf.set("graft.output.schema",
      "message doc { optional int64 doc_id; optional binary text (UTF8); optional double score; }")
    val job = Job.getInstance(conf)
    FileOutputFormat.setOutputPath(job, new org.apache.hadoop.fs.Path(out))
    val ctx = taskCtx(job.getConfiguration)
    val fmt = new GraftOutputFormat()
    val committer = fmt.getOutputCommitter(ctx)
    committer.setupJob(ctx)
    committer.setupTask(ctx)
    val w = fmt.getRecordWriter(ctx)
    (1 to 25).foreach { i =>
      val m = new MapWritable()
      m.put(new Text("doc_id"), new LongWritable(i.toLong))
      m.put(new Text("text"), new Text(s"document number $i"))
      m.put(new Text("score"), new org.apache.hadoop.io.DoubleWritable(i / 2.0))
      w.write(new Text(i.toString), m)
    }
    w.close(ctx)
    // the work file is invisible until commit — the crash-safety the
    // MR protocol provides
    committer.commitTask(ctx)
    committer.commitJob(ctx)

    val back = spark.read.parquet(out)
      .select("doc_id", "text", "score").as[(Long, String, Double)].collect().toSet
    assert(back == (1 to 25).map(i => (i.toLong, s"document number $i", i / 2.0)).toSet)
  }

  test("round trip: InputFormat -> OutputFormat -> InputFormat preserves documents") {
    val src = java.nio.file.Files.createTempDirectory(specRoot, "graft_mrrt").toString + "/src"
    val dst = java.nio.file.Files.createTempDirectory(specRoot, "graft_mrrt").toString + "/dst"
    Tables.documents(spark, sfDir).limit(10).select("doc_id", "text")
      .write.parquet(src)

    // read with the input format
    val inJob = Job.getInstance(new Configuration(false))
    inJob.getConfiguration.set("graft.mapping.id", "doc_id")
    FileInputFormat.addInputPath(inJob, new org.apache.hadoop.fs.Path(src))
    val inFmt = new GraftInputFormat()
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Text, MapWritable)]
    inFmt.getSplits(new JobContextImpl(inJob.getConfiguration, new JobID("graft", 2)))
      .forEach { split =>
        val ctx = taskCtx(inJob.getConfiguration)
        val rr = inFmt.createRecordReader(split, ctx)
        rr.initialize(split, ctx)
        while (rr.nextKeyValue()) {
          val copy = new MapWritable(rr.getCurrentValue)
          docs += ((new Text(rr.getCurrentKey), copy))
        }
        rr.close()
      }

    // write them with the output format (the identity MR job)
    val outConf = new Configuration(false)
    outConf.set("graft.output.schema",
      "message doc { optional int64 doc_id; optional binary text (UTF8); }")
    val outJob = Job.getInstance(outConf)
    FileOutputFormat.setOutputPath(outJob, new org.apache.hadoop.fs.Path(dst))
    val octx = taskCtx(outJob.getConfiguration)
    val outFmt = new GraftOutputFormat()
    val committer = outFmt.getOutputCommitter(octx)
    committer.setupJob(octx); committer.setupTask(octx)
    val w = outFmt.getRecordWriter(octx)
    docs.foreach { case (k, v) => w.write(k, v) }
    w.close(octx)
    committer.commitTask(octx); committer.commitJob(octx)

    val a = spark.read.parquet(src).select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    val b = spark.read.parquet(dst).select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(a == b && a.size == 10)
  }

  test("repeated fields survive Writable SERIALIZATION (the shuffle path)") {
    // a map-only test never serializes the values; anything beyond it
    // (shuffle, SequenceFile spill) round-trips every Writable through
    // write()/readFields(), and ArrayWritable instantiates its element
    // class REFLECTIVELY there — an interface element class
    // (classOf[Writable], the pre-r14 form) crashes at deserialization
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message doc { optional int64 doc_id; repeated int64 refs; repeated binary tag (UTF8); }")
    val g = new SimpleGroupFactory(schema).newGroup()
    g.add("doc_id", 7L); g.add("refs", 11L); g.add("refs", 12L); g.add("tag", "a")
    val m = graft.hadoop.GraftMapredFormats.toMapWritable(g)

    val bytes = new java.io.ByteArrayOutputStream()
    m.write(new java.io.DataOutputStream(bytes))
    val back = new MapWritable()
    back.readFields(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)))

    val refs = back.get(new Text("refs"))
      .asInstanceOf[org.apache.hadoop.io.ArrayWritable].get()
    assert(refs.map(_.asInstanceOf[LongWritable].get()).toSeq == Seq(11L, 12L))
    val tags = back.get(new Text("tag"))
      .asInstanceOf[org.apache.hadoop.io.ArrayWritable].get()
    assert(tags.map(_.toString).toSeq == Seq("a"))
    assert(back.get(new Text("doc_id")).asInstanceOf[LongWritable].get() == 7L)
  }
}
