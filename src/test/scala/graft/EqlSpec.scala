package graft

import graft.dsl.Eql
import org.apache.spark.sql.functions._

class EqlSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "ge"

  import spark.implicits._

  // (event_id, user_id, ts_ns, event_type, value)
  private def ev(rows: (Long, Long, Long, String, Double)*) =
    rows.toDF("event_id", "user_id", "ts_ns", "event_type", "value")

  test("sequence: ordered within key, latest predecessor wins") {
    val us = 1000L // ns per µs
    val df = ev(
      (1L, 7L, 100L * us, "a", 0.0),
      (2L, 7L, 200L * us, "a", 0.0),   // later `a` — the one that pairs
      (3L, 7L, 300L * us, "b", 0.0),
      (4L, 8L, 100L * us, "b", 0.0),   // b BEFORE any a: no match
      (5L, 8L, 200L * us, "a", 0.0))
    val out = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true))), maxspanNs = Long.MaxValue)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((7L, 2L, 3L, 0L))) // latest a (id 2), span (300-200)µs -> 0 ms
  }

  test("sequence: maxspan bounds the WHOLE span; 3 steps chain") {
    val ms = 1000000L // ns per ms
    val df = ev(
      (1L, 1L, 0L * ms, "a", 0.0),
      (2L, 1L, 40L * ms, "b", 0.0),
      (3L, 1L, 90L * ms, "c", 0.0),   // a..c span 90ms
      (4L, 2L, 0L * ms, "a", 0.0),
      (5L, 2L, 40L * ms, "b", 0.0),
      (6L, 2L, 200L * ms, "c", 0.0))  // span 200ms: over budget
    val out = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true)), ("c", lit(true))),
      maxspanNs = 100L * ms)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, 3L, 90L)))
  }

  test("sequence: step predicates filter; duplicate types chain distinct events") {
    val df = ev(
      (1L, 1L, 1000L, "a", 5.0),
      (2L, 1L, 2000L, "a", 50.0), // only this `a` passes the predicate
      (3L, 1L, 3000L, "b", 0.0))
    val out = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", col("value") > 10.0), ("b", lit(true))), Long.MaxValue)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((1L, 2L, 3L)))
    // `with runs` expansion: [a][a] needs TWO distinct a-events; one
    // event never fills both slots of the same chain
    val runs = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("a", lit(true))), Long.MaxValue)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(runs.map(r => (r._1, r._2, r._3)) == Seq((1L, 1L, 2L)))
  }

  test("until kills in-flight partial sequences; later restart matches") {
    val df = ev(
      (1L, 1L, 1000L, "a", 0.0),
      (2L, 1L, 2000L, "x", 0.0),  // until: kills the pending a
      (3L, 1L, 3000L, "b", 0.0),  // no live a -> no match
      (4L, 1L, 4000L, "a", 0.0),  // fresh a after the kill
      (5L, 1L, 5000L, "b", 0.0))  // matches a(4)
    val out = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true))), Long.MaxValue,
      until = Some(("x", lit(true))))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, 5L, 0L)))
    // until type colliding with a step type is rejected
    intercept[IllegalArgumentException] {
      Eql.sequence(df, "user_id", "ts_ns", "event_id",
        Seq(("a", lit(true)), ("b", lit(true))), Long.MaxValue,
        until = Some(("a", lit(true))))
    }
  }

  test("missing events: a negative step between levels kills the chain") {
    val us = 1000L
    val df = ev(
      (1L, 7L, 100L * us, "a", 0.0),
      (2L, 7L, 200L * us, "x", 0.0),   // kill between a and b -> dead
      (3L, 7L, 300L * us, "b", 0.0),
      (4L, 7L, 400L * us, "a", 0.0),   // fresh a after the kill
      (5L, 7L, 500L * us, "b", 0.0),   // pairs with 4
      (6L, 8L, 100L * us, "x", 0.0),   // kill BEFORE any a: harmless
      (7L, 8L, 200L * us, "a", 0.0),
      (8L, 8L, 300L * us, "b", 0.0),
      (9L, 9L, 100L * us, "a", 0.0),
      (10L, 9L, 200L * us, "x", 5.0)) // predicate false -> no kill
    val out = Eql.sequence(df, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true))), maxspanNs = Long.MaxValue,
      missing = Seq((0, "x", col("value") < 1.0)))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((7L, 4L, 5L, 0L), (8L, 7L, 8L, 0L)))
    // 3-step form: kill at the SECOND gap only
    val df3 = ev(
      (1L, 7L, 100L * us, "a", 0.0),
      (2L, 7L, 200L * us, "b", 0.0),
      (3L, 7L, 250L * us, "x", 0.0),  // between b and c -> dead
      (4L, 7L, 300L * us, "c", 0.0),
      (5L, 8L, 100L * us, "a", 0.0),
      (6L, 8L, 150L * us, "x", 0.0),  // between a and b: gap 1 ignores it
      (7L, 8L, 200L * us, "b", 0.0),
      (8L, 8L, 300L * us, "c", 0.0))
    val out3 = Eql.sequence(df3, "user_id", "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true)), ("c", lit(true))),
      maxspanNs = Long.MaxValue, missing = Seq((1, "x", lit(true))))
      .select("user_id").as[Long].collect().toSeq
    assert(out3 == Seq(8L))
  }

  test("run: ![...] negative steps parse in the query language") {
    val us = 1000L
    val df = ev(
      (1L, 7L, 100L * us, "a", 0.0),
      (2L, 7L, 200L * us, "x", 0.0),
      (3L, 7L, 300L * us, "b", 0.0),
      (4L, 8L, 100L * us, "a", 0.0),
      (5L, 8L, 300L * us, "b", 0.0))
    // route through run() with a temp parquet dir shaped like events
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "eqlm").toString
    // ts as a raw µs long — one of the two magnitudes
    // Tables.normalizeEvents accepts
    df.withColumn("ts", expr("ts_ns div 1000"))
      .withColumn("props", lit("""{"k":1}"""))
      .drop("ts_ns")
      .write.parquet(s"$dir/events.parquet")
    val out = Eql.run(spark, dir, "sequence by user_id [a] ![x] [b]")
      .select("user_id").as[Long].collect().toSeq
    assert(out == Seq(8L))
    intercept[IllegalArgumentException] {
      Eql.run(spark, dir, "sequence by user_id ![x] [a] [b]")
    }
  }

  test("run: until and head parse in the query language") {
    val seqU = Eql.run(spark, sfDir,
      "sequence by user_id with maxspan=24h [view] [purchase] until [error] | head 5")
    assert(seqU.columns.toSeq == Seq("user_id", "e1_id", "e2_id", "span_ms"))
    assert(seqU.count() <= 5)
    val simpleH = Eql.run(spark, sfDir, "error where value > 0 | head 3")
    assert(simpleH.count() == 3)
  }

  test("sample: unordered correlation, deterministic min-id examples") {
    val df = ev(
      (5L, 1L, 5000L, "b", 0.0), // b BEFORE a still correlates (unordered)
      (2L, 1L, 2000L, "a", 9.0),
      (3L, 1L, 3000L, "a", 1.0), // min id among matching a's: 2 (value>5 kills 3)
      (4L, 2L, 4000L, "a", 9.0)) // no b for user 2
    val out = Eql.sample(df, "user_id", "event_id",
      Seq(("a", col("value") > 5.0), ("b", lit(true))))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 5L)))
  }

  test("run: simple query and sequence parse against the test tables") {
    val simple = Eql.run(spark, sfDir, "error where value > 0")
    assert(simple.columns.toSeq == Seq("event_id", "user_id", "value"))
    assert(simple.count() > 0)
    val seq2 = Eql.run(spark, sfDir,
      "sequence by user_id with maxspan=24h [view] [purchase]")
    assert(seq2.columns.toSeq == Seq("user_id", "e1_id", "e2_id", "span_ms"))
  }

  test("tail keeps the LAST n matches, returned ascending") {
    val all = Eql.run(spark, sfDir, "error where value > 0")
      .as[(Long, Long, Double)].collect().toSeq
    val tail3 = Eql.run(spark, sfDir, "error where value > 0 | tail 3")
      .as[(Long, Long, Double)].collect().toSeq
    assert(tail3 == all.takeRight(3))
    // `any` matches every event type
    val anyN = Eql.run(spark, sfDir, "any where value > 300").count()
    val sum = Seq("click", "signup", "purchase", "error", "view")
      .map(t => Eql.run(spark, sfDir, s"$t where value > 300").count()).sum
    assert(anyN == sum && anyN > 0)
  }

  test("sequence by MULTIPLE keys: the tuple is the join key") {
    // same user on two hosts: steps on different hosts must NOT chain
    val df = Seq(
      (1L, "h1", 7L, 1000L, "a", 0.0),
      (2L, "h2", 7L, 2000L, "b", 0.0), // b on the OTHER host
      (3L, "h1", 7L, 3000L, "b", 0.0)) // b on the same host -> match
      .toDF("event_id", "host", "user_id", "ts0", "event_type", "value")
      .withColumn("ts_ns", col("ts0") * 1000000L).drop("ts0")
    val out = Eql.sequenceKeys(df, Seq("host", "user_id"), "ts_ns", "event_id",
      Seq(("a", lit(true)), ("b", lit(true))), Long.MaxValue)
      .select("host", "user_id", "e1_id", "e2_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("h1", 7L, 1L, 3L)))
    // the run() grammar accepts the comma form
    val parsed = Eql.run(spark, sfDir,
      "sequence by user_id , user_id [view] [purchase] | head 3")
    assert(parsed.columns.take(2).toSeq == Seq("user_id", "user_id"))
  }

  test("EQL functions: wildcard, stringContains, cidrmatch") {
    val df = Seq(
      (1L, "powershell.exe", "10.0.5.9"),
      (2L, "cmd.exe", "10.64.0.1"),
      (3L, "bash", "192.168.1.5")).toDF("id", "proc", "ip")
    def ids(p: String): Seq[Long] =
      df.where(Eql.predicate(p)).select("id").as[Long].collect().toSeq.sorted
    assert(ids("""wildcard(proc, "power*", "c?d.exe")""") == Seq(1L, 2L))
    assert(ids("""stringContains(proc, "shell")""") == Seq(1L))
    assert(ids("""cidrmatch(ip, "10.0.0.0/10")""") == Seq(1L))
    assert(ids("""cidrmatch(ip, "10.0.0.0/8", "192.168.0.0/16")""") == Seq(1L, 2L, 3L))
    // composes with the comparison subset
    assert(ids("""wildcard(proc, "*.exe") and id > 1""") == Seq(2L))
  }

  test("r13 hardening: loud residue/runs/maxspan contracts, quoted ==, wildcard escapes, sample tuple keys") {
    // a typo'd step is a LOUD error, not a silently different funnel
    intercept[IllegalArgumentException] {
      Eql.run(spark, sfDir, "sequence by user_id [view] [click whree value > 50] [purchase]")
    }
    // runs=0 would silently delete the step
    intercept[IllegalArgumentException] {
      Eql.run(spark, sfDir, "sequence by user_id [view] with runs=0 [purchase]")
    }
    // maxspan day unit is supported (it used to silently UNBOUND the span)
    assert(Eql.run(spark, sfDir,
      "sequence by user_id with maxspan=1d [view] [purchase]").columns.nonEmpty)
    // '==' inside a string literal survives verbatim
    val df = ev((1L, 1L, 1000L, "a", 1.0)).withColumn("s", lit("x==y"))
    assert(df.where(Eql.predicate("""s == "x==y"""")).count() == 1)
    assert(df.where(Eql.predicate("""s == "x=y"""")).count() == 0)
    // wildcard: literal backslash + comma survive inside a quoted pattern
    val win = ev((1L, 1L, 1000L, "a", 1.0))
      .withColumn("p", lit("C:\\Users\\alice"))
    assert(win.where(Eql.predicate("""wildcard(p, "C:\\Users\\*")""")).count() == 1)
    val comma = ev((1L, 1L, 1000L, "a", 1.0)).withColumn("p", lit("a,b!"))
    assert(comma.where(Eql.predicate("""wildcard(p, "a,b*")""")).count() == 1)
    // sample by TUPLE: a pair matching only under different secondary
    // keys must NOT correlate
    val sdf = ev(
      (1L, 1L, 1000L, "a", 9.0),
      (2L, 1L, 2000L, "b", 0.0))
      .withColumn("grp", when(col("event_id") === 1L, "g1").otherwise("g2"))
    assert(Eql.sample(sdf, Seq("user_id", "grp"), "event_id",
      Seq(("a", lit(true)), ("b", lit(true)))).count() == 0)
    assert(Eql.sample(sdf, Seq("user_id"), "event_id",
      Seq(("a", lit(true)), ("b", lit(true)))).count() == 1)
    // sample honors head
    assert(Eql.run(spark, sfDir, "sample by user_id [view] [purchase] | head 2").count() <= 2)
  }
}
