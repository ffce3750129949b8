package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.matching.Regex

/** Elasticsearch SQL (`POST /_sql`) surface, Spark-native.
  *
  * ES SQL is ANSI SQL over one index plus three search extensions:
  * `MATCH(field, 'query'[, 'options'])`, `QUERY('lucene syntax')`
  * and `SCORE()`. Everything that IS plain SQL goes straight to
  * `spark.sql` — Catalyst plans it like any other query (predicate
  * pushdown, partial aggregation, TakeOrderedAndProject), which is
  * the whole point of re-expressing the API Spark-first rather than
  * interpreting it row-by-row.
  *
  * The search extensions can't live inside the SQL text, so `run`
  * pre-compiles them: each `MATCH`/`QUERY` call becomes a boolean
  * column on the source frame (compiled through the same
  * `Search`/`EsQuery` kernels as the Query-DSL paths — codegen'd,
  * never a UDF), `SCORE()` becomes a BM25 score column joined from
  * `Search.bm25Scores` (corpus statistics over the FULL index, as ES
  * computes them, not the filtered subset), and the call sites in
  * the SQL text are rewritten to those column names before
  * `spark.sql` runs.
  *
  * Scale shape: the augmented view adds narrow boolean/double
  * columns; the SCORE join is keyed on the table's id and the score
  * side only contains docs that share a term with the query (bounded
  * by posting lists, not corpus size).
  *
  * Scope (documented, fail-loud): single index in FROM, quoted
  * single-field MATCH, `operator` as the only MATCH option.
  */
object EsSql {

  /** ES `_id` analog per table — SCORE() needs a join key (also used
    * by the ES|QL METADATA clause). */
  private[dsl] val keyOf = Map(
    "documents" -> "doc_id", "events" -> "event_id",
    "embeddings" -> "vec_id", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "nation" -> "n_nationkey",
    "region" -> "r_regionkey")

  private val fromRe: Regex = "(?i)\\bFROM\\s+\"?([A-Za-z0-9_]+)\"?".r
  private val matchRe: Regex =
    "(?i)\\bMATCH\\s*\\(\\s*\"?([A-Za-z0-9_]+)\"?\\s*,\\s*'([^']*)'(?:\\s*,\\s*'([^']*)')?\\s*\\)".r
  private val queryRe: Regex = "(?i)\\bQUERY\\s*\\(\\s*'([^']*)'\\s*\\)".r
  private val scoreRe: Regex = "(?i)\\bSCORE\\s*\\(\\s*\\)".r

  /** ES SQL spells a few scalar functions differently from Spark;
    * rewrite the ES spelling onto Spark's (text-level, before
    * spark.sql). Only the ES-specific forms are touched: a plain
    * two-arg DATE_ADD(date, n) is already Spark's own and passes
    * through untouched.
    *  - `IIF(c, a, b)`            → `IF(c, a, b)`
    *  - `DATE_DIFF('unit', a, b)` → `timestampdiff(unit, a, b)`
    *  - `DATE_ADD('unit', n, ts)` → `timestampadd(unit, n, ts)`
    */
  private def rewriteFunctions(sql: String): String = {
    var s = "(?i)\\bIIF\\s*\\(".r.replaceAllIn(sql, "IF(")
    s = "(?i)\\bDATE_DIFF\\s*\\(\\s*'(\\w+)'\\s*,".r
      .replaceAllIn(s, m => s"timestampdiff(${m.group(1)},")
    s = "(?i)\\bDATE_ADD\\s*\\(\\s*'(\\w+)'\\s*,".r
      .replaceAllIn(s, m => s"timestampadd(${m.group(1)},")
    // ES SQL's HISTOGRAM(col, interval) grouping function (numeric
    // form) -> the bucket-start expression. CAST keeps the output
    // DOUBLE on both engines (Spark's floor(double) is BIGINT,
    // DuckDB's is DOUBLE).
    s = "(?i)\\bHISTOGRAM\\s*\\(\\s*([A-Za-z0-9_]+)\\s*,\\s*([0-9.]+)\\s*\\)".r
      .replaceAllIn(s, m =>
        s"(CAST(floor(${m.group(1)} / ${m.group(2)}) AS DOUBLE) * ${m.group(2)})")
    // ES SQL aggregates PERCENTILE(f, p) / PERCENTILE_RANK(f, v):
    // p is 0-100 (ES) where Spark's percentile takes 0-1; the rank
    // form is the inverse — share of rows at or below v, as a percent
    s = "(?i)\\bPERCENTILE\\s*\\(\\s*([A-Za-z0-9_]+)\\s*,\\s*([0-9.]+)\\s*\\)".r
      .replaceAllIn(s, m =>
        s"percentile(${m.group(1)}, ${m.group(2).toDouble / 100.0})")
    // double literals, not 1.0/0.0: Spark parses bare decimals as
    // DECIMAL and avg(decimal) truncates the rate at 5 digits
    s = "(?i)\\bPERCENTILE_RANK\\s*\\(\\s*([A-Za-z0-9_]+)\\s*,\\s*([0-9.]+)\\s*\\)".r
      .replaceAllIn(s, m =>
        s"(CAST(100.0 AS DOUBLE) * avg(IF(${m.group(1)} <= ${m.group(2)}, " +
          "CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))))")
    s
  }

  def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    import spark.implicits._
    val trimmed = sql.trim
    // ES SQL metadata statements: SHOW TABLES lists the indices (the
    // parquet directories under the data root), DESCRIBE/DESC renders
    // the index schema as (column, type) rows — catalog metadata, no
    // data read in either case.
    if (trimmed.toUpperCase(java.util.Locale.ROOT).matches("SHOW\\s+TABLES")) {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.isFile).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
        .sorted.toSeq
      return names.toDF("name").withColumn("type", lit("TABLE"))
    }
    val descRe =
      "(?i)^(?:DESC(?:RIBE)?|SHOW\\s+COLUMNS\\s+FROM)\\s+\"?([A-Za-z0-9_]+)\"?$".r
    trimmed match {
      case descRe(t) =>
        val base =
          if (t.toLowerCase == "events") graft.Tables.events(spark, dir)
          else graft.Tables.load(spark, dir, t.toLowerCase)
        return base.schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString))
          .toDF("column", "type")
      case _ => ()
    }
    val table = fromRe.findFirstMatchIn(sql).map(_.group(1).toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"no FROM clause: $sql"))
    val base =
      if (table == "events") graft.Tables.events(spark, dir)
      else graft.Tables.load(spark, dir, table)

    // compile each MATCH/QUERY call to a boolean column; remember the
    // first MATCH — SCORE() scores against it, like ES scores against
    // the query context of the WHERE clause
    var extra = Vector.empty[(String, Column)]
    var firstMatch: Option[(String, String)] = None
    var rewritten = matchRe.replaceAllIn(rewriteFunctions(sql), m => {
      val (field, q, opts) = (m.group(1), m.group(2), Option(m.group(3)))
      val and = opts.exists { o =>
        o.split(';').map(_.trim.toLowerCase).map { kv =>
          kv.split('=') match {
            case Array("operator", v) => v == "and"
            case Array(k, _) =>
              throw new IllegalArgumentException(s"unsupported MATCH option: $k")
            case _ => throw new IllegalArgumentException(s"bad MATCH option: $kv")
          }
        }.exists(identity)
      }
      if (firstMatch.isEmpty) firstMatch = Some((field, q))
      val name = s"__graft_m${extra.length}"
      val pred = if (and) graft.search.Search.matchQueryAnd(col(field), q)
                 else graft.search.Search.matchQuery(col(field), q)
      extra :+= (name, pred)
      Regex.quoteReplacement(name)
    })
    rewritten = queryRe.replaceAllIn(rewritten, m => {
      val name = s"__graft_m${extra.length}"
      extra :+= (name, EsQuery.compile(m.group(1)))
      Regex.quoteReplacement(name)
    })

    val needsScore = scoreRe.findFirstIn(rewritten).isDefined
    rewritten = scoreRe.replaceAllIn(rewritten, _ => "__graft_score")

    var df = extra.foldLeft(base) { case (d, (n, c)) => d.withColumn(n, c) }
    if (needsScore) {
      val (field, q) = firstMatch.getOrElse(throw new IllegalArgumentException(
        "SCORE() requires a MATCH predicate to score against"))
      val key = keyOf.getOrElse(table, throw new IllegalArgumentException(
        s"SCORE() needs a known id column for table $table"))
      val scores = graft.search.Search.bm25Scores(base, key, field, q)
        .withColumnRenamed("id", key)
        .withColumnRenamed("score", "__graft_score")
      df = df.join(scores, Seq(key), "left")
        .withColumn("__graft_score", coalesce(col("__graft_score"), lit(0.0)))
    }

    val view = s"__graft_sql_$table"
    df.createOrReplaceTempView(view)
    rewritten = ("(?i)(\\bFROM\\s+)\"?" + table + "\"?\\b").r
      .replaceAllIn(rewritten, m => m.group(1) + view)
    val out = spark.sql(rewritten)
    // SELECT * would otherwise leak the compiled helper columns
    out.drop(out.columns.filter(_.startsWith("__graft_")): _*)
  }

  // --- cursor paging (`fetch_size` + cursor continuation) ---------------
  //
  // ES SQL with `fetch_size` returns one page plus a cursor; POSTing the
  // cursor returns the next page until a short/empty page closes it.
  // Spark shape: the cursor captures the COMPILED frame (the Catalyst
  // plan, not materialized rows) plus the next-row offset; each fetch is
  // `offset(n).limit(fetch)` over that plan. Determinism requires the
  // query's ORDER BY to be total (ES makes the same demand of
  // search_after). Stability under concurrent writes comes from what the
  // plan READS: a frame built through `Connector.pitDF` pins its
  // generation, so pages keep serving the open-time snapshot while
  // writers swap generations underneath — the cursor analog of ES
  // keeping the scroll context alive on the old segments.
  //
  // Driver state is one (plan, offset) pair per open cursor — no rows.

  private val cursors =
    new java.util.concurrent.ConcurrentHashMap[String, (() => DataFrame, Int, Long)]()

  /** `POST /_sql {query, fetch_size}`: first page + cursor (None when
    * the result fits one page). */
  def openCursor(spark: SparkSession, dir: String, sql: String,
      fetchSize: Int): (DataFrame, Option[String]) =
    openCursorBy(() => run(spark, dir, sql), fetchSize)

  /** Cursor over a frame THUNK, re-invoked per page: required for
    * sources whose file lists re-resolve on read — `Connector.pitDF`
    * in particular, where a concurrent write retires the pinned
    * generation's files to a new directory and a captured plan would
    * hold the stale paths. */
  def openCursorBy(mk: () => DataFrame, fetchSize: Int): (DataFrame, Option[String]) = {
    require(fetchSize > 0, s"fetch_size must be positive: $fetchSize")
    page(java.util.UUID.randomUUID().toString, mk, fetchSize, 0L)
  }

  /** `POST /_sql {cursor}`: the next page. A full page returns the same
    * cursor id; a short page is the last and closes the cursor. */
  def fetchCursor(cursorId: String): (DataFrame, Option[String]) = {
    val st = cursors.get(cursorId)
    require(st != null, s"unknown or closed SQL cursor: $cursorId")
    page(cursorId, st._1, st._2, st._3)
  }

  /** `POST /_sql/close` — drop the cursor state. */
  def closeCursor(cursorId: String): Unit = cursors.remove(cursorId)

  private def page(id: String, mk: () => DataFrame, fetchSize: Int,
      offset: Long): (DataFrame, Option[String]) = {
    val p = mk().offset(offset.toInt).limit(fetchSize)
    // a full page means there may be more: keep the cursor open.
    // ES behaves the same way (the last page can be empty).
    if (p.count() == fetchSize) {
      cursors.put(id, (mk, fetchSize, offset + fetchSize))
      (p, Some(id))
    } else {
      cursors.remove(id)
      (p, None)
    }
  }
}
