package graft.dedup

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import graft.analysis.Analyzer
import graft.expr.{HashKernels, MinHashSig, SimHash32}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StringType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.util.Num

/** Large-scale dedup operators for training-data pipelines.
  *
  * All hash primitives are md5-based so the DuckDB oracle can replicate
  * them bit-for-bit (SURVEY.md §5). MinHash signatures use the
  * lexicographic min of md5 hex strings — a valid min-hash family, and
  * portable across engines without integer conversion.
  *
  * Scale design: signatures are computed per-row with array HOFs
  * (narrow — no shuffle, no UDF); the only shuffles are (1) the LSH
  * band-bucket exchange and (2) the candidate-pair join, both of which
  * move O(docs * bands) small rows, never the full text. Exact Jaccard
  * verification runs only on LSH candidates.
  *
  * CACHING CONTRACT: the MinHash/LSH screens materialize their
  * shingle sets and banded signatures as eager local checkpoints,
  * outside the CacheManager, released with the returned plan (the
  * indexed screen's probed side is a persisted RDD, also outside it,
  * released when its lookup returns or with the join's plan). Other
  * operators pin intermediate caches (edge lists, candidate frames)
  * that stay referenced by the returned plan — call
  * `spark.catalog.clearCache()` (or unpersist selectively) between
  * unrelated jobs, and prefer checkpointing the intermediates to
  * parquet at cluster scale. Intermediates are materialized EAGERLY
  * in dependency order on purpose:
  * left lazy, concurrent consumer branches of one action each
  * recompute the full upstream pipeline while racing to fill them.
  */
object Dedup {

  /** Exact dedup on normalized content hash: groups identical texts,
    * keeps the smallest id. Output: one row per duplicate GROUP
    * (n_dups >= 2). */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      // null texts are UNKNOWN content, not mutually identical — a
      // null-keyed group would report them as one duplicate set
      .where(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .where(col("n_dups") >= 2)
      .orderBy(col("keep_id").asc)

  /** Exact-dedup KEEP: the corpus minus every duplicate row that is
    * not its group's min-id keeper — the filter form of
    * exactDuplicates, and the stage-1 shape of composed builds.
    *
    * Scale shape: the dedup decision travels as 24-byte (hash, id)
    * rows — md5 + id project out BEFORE any exchange, the keep window
    * runs over that narrow frame, and only the DROP ids (the
    * duplicate fraction of the corpus, ~0.2% on a typical web crawl)
    * come back into a left_anti join against the full rows —
    * broadcast when the measured drop count fits the budget, plain
    * (AQE-chosen) when it doesn't; see keepFirstByKey. Document text
    * never enters an exchange in the broadcast regime. The naive
    * alternative — a row_number window partitioned by md5(text) over
    * the full frame — shuffles the whole corpus once: at 100 TB that
    * is a ~100 TB exchange vs this plan's ~0.2% one. At extreme
    * duplication rates the drop set outgrows a broadcast; the size
    * gate drops the hint and the anti-join still only shuffles 8-byte
    * ids on the drops side. Null texts are UNKNOWN content, not mutually
    * identical — they skip the dedup key entirely and all survive
    * (exactDuplicates' convention). */
  def exactDedupKeep(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    keepFirstByKey(docs, idCol, md5(col(textCol)))

  /** Row-count ceiling under which keepFirstByKey broadcasts the
    * drop-id frame. 4M long ids ≈ 32 MB — comfortably inside an
    * executor broadcast budget; above it a forced broadcast hint is a
    * 100 TB hazard (a realistic 10–30% crawl dup rate yields 10^9+
    * drop ids = tens of GB, and the hint removes AQE's ability to
    * degrade to a shuffle, so executors OOM instead). */
  val BroadcastDropLimit: Long = 4000000L

  /** The generic form of exactDedupKeep: min-id keeper per arbitrary
    * dedup KEY expression (content md5, rolling fingerprint, canonical
    * URL, ...). Same scale shape — the key computes in a narrow
    * projection, the keep window sees (key, id) rows only, and rows
    * with a NULL key are unknown content and all survive.
    *
    * The anti-join strategy is SIZE-ADAPTIVE: the drop-id frame is
    * pinned (MEMORY_AND_DISK — ids only, spills cleanly) and counted
    * with one narrow agg. Below `BroadcastDropLimit` (4M rows) it
    * broadcasts into the left_anti join — the corpus text never enters
    * an exchange. Above it the hint is OMITTED: the plain left_anti
    * lets AQE pick the strategy, and the drops side still only
    * shuffles 8-byte ids. An unconditional broadcast is correct at
    * every scale below the broadcast budget but has a cliff past it:
    * the job OOMs executors rather than degrading to a shuffle. The
    * count makes this operator EAGER (it runs the keep window once,
    * into the cache, at call time); the pinned id frame follows the
    * file-level caching contract above. */
  def keepFirstByKey(docs: DataFrame, idCol: String, key: Column): DataFrame =
    keepFirstByKeyCapped(docs, idCol, key, BroadcastDropLimit)

  /** `keepFirstByKey` under an explicit drop-count broadcast limit. */
  private[graft] def keepFirstByKeyCapped(
      docs: DataFrame, idCol: String, key: Column, limit: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val w = Window.partitionBy(col("__h")).orderBy(col("__i"))
    val drops = docs
      .where(key.isNotNull)
      .select(col(idCol).as("__i"), key.as("__h"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") > 1)
      .select(col("__i"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dropSide = if (drops.count() <= limit) broadcast(drops) else drops
    docs.join(dropSide, col(idCol) === col("__i"), "left_anti")
  }

  // The minhash modulus (2^61-1) lives with the kernel that uses it:
  // graft.expr.HashKernels.P — one constant, one owner, no drift.

  /** Per-seed min-hash signature: h_i = (a_i*h + b_i) mod P minima over
    * shingles — computed by the native MinHashSig Catalyst expression
    * (graft.expr.HashExprs): one compiled loop per row. The HOF
    * formulation of the same fold (aggregate + zip_with) is interpreted
    * per tree node and ~50x slower. */
  private def minhashSig(shingleCol: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(shingleCol), numHashes))

  /** LSH band keys: bands of `rowsPerBand` consecutive signature values,
    * prefixed with the band index so different bands never collide. */
  private def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws(
        ",",
        lit(b.toString) +:
          (1 to rowsPerBand).map(r =>
            element_at(sigCol, b * rowsPerBand + r).cast("string")): _*)
    }: _*)

  /** LSH banding autotuner: pick the band count whose S-curve
    * inflection sits closest to the target similarity threshold.
    * With b bands of r = numHashes/b rows, a pair of similarity s
    * becomes a candidate with P = 1 - (1 - s^r)^b; the curve's steep
    * point is t*(b) = (1/b)^(1/r) (standard LSH analysis — Mining of
    * Massive Datasets ch.3). Choosing b with t* nearest the verify
    * threshold minimizes the sum of missed-pair and wasted-candidate
    * work; more bands = more recall but more candidates to verify.
    * Returns (bands, rowsPerBand). */
  def tuneBands(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1)
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
    val best = candidates.minBy { b =>
      val r = numHashes / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
    (best, numHashes / best)
  }

  /** MinHash + LSH near-duplicate pairs, verified by exact shingle
    * Jaccard >= `threshold`. Returns (id1, id2, jaccard) ordered.
    *
    * Pipeline: shingle (narrow) -> 32-seed signature (narrow) -> band
    * explode -> self-join on band key (the one shuffle) -> distinct
    * candidate pairs -> exact verify via array_intersect on the two
    * shingle sets.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame =
    minhashLshUnsorted(docs, idCol, textCol, threshold, numHashes, bands)
      .orderBy(col("id1").asc, col("id2").asc)

  /** (`idAlias`, `shAlias`) shingle sets of `docs`, one row per doc
    * (empty sets included). Lazy. */
  private[graft] def shingleSets(
      docs: DataFrame, idCol: String, textCol: String,
      idAlias: String = "id", shAlias: String = "sh"): DataFrame =
    docs.select(
      col(idCol).as(idAlias),
      Analyzer.shingles(Analyzer.tokens(col(textCol))).as(shAlias))

  /** The shingle sets of one corpus side; docs with no shingle drop. */
  private def sideShingles(
      docs: DataFrame, idCol: String, textCol: String,
      idAlias: String, shAlias: String): DataFrame =
    shingleSets(docs, idCol, textCol, idAlias, shAlias).where(size(col(shAlias)) > 0)

  /** (id, band) rows of an (id, sh) shingle frame — the band table the
    * MinHash artifact persists. */
  private[graft] def bandRows(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes evenly: numHashes=$numHashes bands=$bands")
    sideBands(sh, "id", "sh", numHashes, bands)
  }

  /** The band-key column of a shingle-set column. */
  private def bandKeyArray(shCol: Column, numHashes: Int, bands: Int): Column =
    bandKeys(minhashSig(shCol, numHashes), bands, numHashes / bands)

  /** (`idAlias`, `band`): one row per band key of each shingle set. */
  private def sideBands(
      sh: DataFrame, idAlias: String, shAlias: String,
      numHashes: Int, bands: Int): DataFrame =
    sh.select(col(idAlias), explode(bandKeyArray(col(shAlias), numHashes, bands)).as("band"))

  /** One corpus side of a banded-LSH screen, shared by the self-join
    * (`minhashLshUnsorted`) and cross-corpus (`minhashLshCross`)
    * flavors so the spread heuristic / shingle projection /
    * eager-materialize contract / band construction cannot drift
    * between them: (materialized shingle frame `idAlias`/`shAlias`,
    * band frame `idAlias`/`band`). The shingle frame is materialized
    * EAGERLY — banding and the verify join both read it, and a lazy
    * one would race both branches into recomputing the shingle stage
    * (see minhashLsh) — by an eager localCheckpoint: one job, like
    * cache+count, but outside the CacheManager — the returned plan is
    * lazy, so a cache could never be unpersisted and every screen
    * would leave an entry that each later query's cache lookup scans.
    * The checkpoint's blocks go with the plan (ContextCleaner). */
  private def shingleBandSide(
      docs: DataFrame, idCol: String, textCol: String,
      idAlias: String, shAlias: String,
      numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val sh = sideShingles(spread(docs), idCol, textCol, idAlias, shAlias).localCheckpoint(true)
    (sh, sideBands(sh, idAlias, shAlias, numHashes, bands))
  }

  /** `docs` over every core when `narrow`; ONLY under-partitioned input
    * spreads (see the minhashLsh note: re-shuffling an already-wide
    * 100 TB corpus would be the cost). */
  private[graft] def spread(docs: DataFrame): DataFrame =
    if (narrow(docs)) docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    else docs

  /** Fewer partitions than the default parallelism: one core per
    * partition leaves cores idle. */
  private def narrow(docs: DataFrame): Boolean =
    docs.rdd.getNumPartitions < docs.sparkSession.sparkContext.defaultParallelism

  /** The cross screen's candidate join and exact verify: new bands
    * (`new_id`, `band`) join reference bands (`ref_id`, `band`); the
    * distinct (new_id, ref_id) candidates join both shingle frames
    * (`new_id`, `new_sh`) and (`ref_id`, `ref_sh`) on their ids, so
    * null ids never pair and a repeated id pairs every row holding it.
    * Returns (new_id, ref_id, jaccard ≥ threshold) sorted by
    * (new_id, ref_id). */
  private def crossVerify(
      shNew: DataFrame, bandNew: DataFrame,
      shRef: DataFrame, bandRef: DataFrame,
      threshold: Double): DataFrame =
    bandNew.join(bandRef, "band")
      .select(col("new_id"), col("ref_id")).distinct()
      .join(shNew, "new_id").join(shRef, "ref_id")
      .withColumn("jaccard", Num.round(GraftBridge.column(graft.expr.JaccardSim(
        GraftBridge.expression(col("new_sh")), GraftBridge.expression(col("ref_sh")))), 4))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("jaccard"))
      .orderBy(col("new_id").asc, col("ref_id").asc)

  /** CROSS-corpus near-dup screen: which docs of a NEW corpus
    * near-duplicate ANY doc of a REFERENCE corpus (dedup a fresh crawl
    * against the existing training set — the incremental-ingest
    * staple). Same banded-LSH shape as `minhashLsh`, but candidates
    * join NEW bands against REF bands only: new×new and ref×ref pairs
    * never materialize, so the candidate volume is bounded by the
    * cross collision rate however dense each corpus's internal
    * duplication is. Ids stay side-tagged columns (they may collide
    * across corpora), and the verify reads each side's own shingle
    * frame. Returns (new_id, ref_id, jaccard) pairs ≥ threshold. */
  def minhashLshCross(
      newDocs: DataFrame,
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes evenly: numHashes=$numHashes bands=$bands")
    val (shNew, bandNew) =
      shingleBandSide(newDocs, idCol, textCol, "new_id", "new_sh", numHashes, bands)
    val (shRef, bandRef) =
      shingleBandSide(refDocs, idCol, textCol, "ref_id", "ref_sh", numHashes, bands)
    crossVerify(shNew, bandNew, shRef, bandRef, threshold)
  }

  /** Lookup-regime cap on the screened side of `minhashLshCrossIndexed`:
    * docs with at least one shingle. Measured crossover (4-core
    * container, 4,000-doc index, median screen time): the lookup leads
    * at 1,000 docs (770 vs 1,007 ms) and trails at 3,000 (1,942 vs
    * 1,717 ms). */
  val LookupSideCap: Int = 1024

  /** Lookup-regime cap on the band-hit rows one screen brings to the
    * driver, and on its candidates' shingle rows. Measured crossover
    * (40,000-doc index of 400 repeated texts): the lookup leads at
    * 202,400 hit rows (2,559 vs 2,808 ms) and ties at 320,000 (3,782 vs
    * 3,835 ms). */
  val LookupHitCap: Int = 200000

  /** Lookup-regime cap on the bytes (UnsafeRow sizes) each of the
    * lookup's three reads brings to the driver. A row cap alone does not
    * bound them: a shingle row holds one 3-gram string per token, so a
    * 1,500-token page is about 40 KB where a band row is about 90 B.
    * The cap bounds driver memory, not speed: against 2,400 such pages
    * the lookup still leads with 92 MB of shingle rows (1,904 vs
    * 3,332 ms), and the three reads together hold at most 3 x 64 MB. */
  val LookupByteCap: Long = 64L << 20

  /** Cross-corpus near-dup screen against a PERSISTED minhash artifact
    * (`ArtifactKind.Minhash`) — dedup-once: the reference corpus
    * is never re-tokenized or re-minhashed; its shingle sets and band
    * keys read back as columnar tables, and only the NEW side (the
    * crawl batch) pays shingle + signature compute. Two regimes return
    * identical rows in identical (new_id, ref_id) order under an
    * identical schema, nullability included:
    *
    *  - LOOKUP, for a side of at most `LookupSideCap` docs whose band
    *    keys hit at most `LookupHitCap` artifact rows, with each read
    *    under `LookupByteCap` bytes. EAGER: its three jobs run inside
    *    this call — the side's (id, shingles, band keys) to the driver;
    *    the `bands` rows whose band is IN those keys; the `shingles`
    *    rows whose id is IN the candidate ref ids. Each collect keeps at
    *    most its caps, and the screen adds no exchange to any of the
    *    three. The shingle read is not started when the candidates
    *    times the batch's mean shingle row passes the byte cap. Pairs verify on the driver with
    *    `HashKernels.jaccardKernel` and `Num.roundDouble`, bit-identical
    *    to the join's `JaccardSim` and `Num.round`. The result is a
    *    local frame: collecting it launches no job. The rows reaching
    *    the driver are the batch, its hits and its candidates' shingle
    *    sets, however large the corpus.
    *  - JOIN, for every other input: a read over a cap, duplicate
    *    non-null side ids, or ids that are not integral or string. It
    *    runs after the probes that found it: a side of at least one
    *    partition per core reuses the rows the side probe computed
    *    (one job, under the join's description, fills any the probe
    *    left), and a narrower one checkpoints its shingles eagerly,
    *    each probe task having stopped at the cap. The returned plan
    *    is lazy and joins the side's band keys with the whole `bands`
    *    table and the candidates with the whole `shingles` table. AQE
    *    picks each join's strategy per run: against a small corpus it
    *    broadcasts the reference tables, against a large one it
    *    shuffles. No broadcast hint is forced, because a bulk
    *    backfill's side can be huge (the keepFirstByKey lesson).
    *
    * Null ids never pair and empty-shingle docs drop in both, and both
    * answer as `minhashLshCross` would against the reference corpus:
    * the artifact persists exactly the frames `shingleBandSide`
    * computes. Every job this call launches carries a job description
    * naming the regime and the numbers behind the choice (side docs,
    * band keys, hit rows, candidate refs; on a join, the reason); the
    * caller's description is restored afterwards. Returns None when
    * the artifact is missing, stale, or was built with different
    * (idCol, numHashes, bands) — callers fall back to the on-the-fly
    * cross screen. */
  def minhashLshCrossIndexed(
      spark: SparkSession,
      newDocs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8): Option[DataFrame] =
    minhashLshCrossIndexedCapped(spark, newDocs, indexPath, idCol, textCol,
      threshold, numHashes, bands, LookupSideCap, LookupHitCap, LookupByteCap)

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** Job descriptions of the lookup regime. */
  private val Lookup = "minhash screen lookup: "
  private def sideProbe(sideCap: Int, byteCap: Long): String =
    s"side probe, caps $sideCap docs, $byteCap bytes"

  /** `minhashLshCrossIndexed` under explicit lookup caps (the row caps
    * below Int.MaxValue); a negative `sideCap` takes the join regime
    * without probing the side. */
  private[graft] def minhashLshCrossIndexedCapped(
      spark: SparkSession,
      newDocs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      sideCap: Int,
      hitCap: Int,
      byteCap: Long): Option[DataFrame] =
    graft.index.IndexArtifacts
      .load(spark, graft.index.ArtifactKind.Minhash, indexPath, textCol, Some(idCol))
      .filter(_.state == graft.index.ArtifactKind.Banding(numHashes, bands))
      .map { a =>
        val refSh = a.table("shingles").select(col("id").as("ref_id"), col("sh").as("ref_sh"))
        val refBands = a.table("bands").select(col("id").as("ref_id"), col("band"))
        val sc = spark.sparkContext
        val caller = sc.getLocalProperty(JobDescription)
        try {
          // planning the side runs the stages of an input with a shuffle
          if (sideCap >= 0) sc.setJobDescription(Lookup + sideProbe(sideCap, byteCap))
          val probed =
            if (sideCap < 0) None else Some(probedSide(newDocs, idCol, textCol, numHashes, bands))
          val looked = probed.fold[Either[String, DataFrame]](Left("lookup off")) {
            case (side, _) =>
              lookupScreen(side, refSh, refBands, threshold, sideCap, hitCap, byteCap)
          }
          looked.fold({ why =>
            sc.setJobDescription(s"minhash screen join: $why")
            val (shNew, bandNew) = probed.collect { case (side, Some(rows)) =>
              // eager, like shingleBandSide's checkpoint: every partition
              // the probe left uncomputed fills now, not raced by the
              // join's two branches (most are kept blocks already)
              rows.count()
              keyedSide(side)
            }.getOrElse(
              shingleBandSide(newDocs, idCol, textCol, "new_id", "new_sh", numHashes, bands))
            crossVerify(shNew, bandNew, refSh, refBands, threshold)
          }, { local =>
            probed.flatMap(_._2).foreach(_.unpersist(blocking = false))
            local
          })
        } finally sc.setLocalProperty(JobDescription, caller)
      }

  /** The screened side as the lookup probes it: (`new_id`, `new_sh`,
    * `band_keys`), and the persisted rows under it, if any. A side of at
    * least one partition per core reads through an RDD persisted
    * MEMORY_AND_DISK: the probe's tasks compute and keep their whole
    * partitions, a join after the probe reads those rows instead of
    * shingling and hashing the side again, and the blocks go when the
    * lookup returns or with the join's plan (ContextCleaner). Not a
    * lazy `localCheckpoint`: that truncates the lineage at the end of
    * whichever of the join's jobs ends first, under jobs still running
    * on it. A narrower side is not persisted, so each probe task stops
    * at the cap, and the join spreads it over the cores as
    * `shingleBandSide` does. */
  private def probedSide(
      newDocs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int): (DataFrame, Option[RDD[InternalRow]]) = {
    val keyed = sideShingles(newDocs, idCol, textCol, "new_id", "new_sh")
      .withColumn("band_keys", bandKeyArray(col("new_sh"), numHashes, bands))
    if (narrow(newDocs)) (keyed, None)
    else {
      val rows = keyed.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      (GraftBridge.internalRowsFrame(keyed.sparkSession, rows, keyed.schema), Some(rows))
    }
  }

  /** A `probedSide` frame as the join's (shingle frame, band frame). */
  private def keyedSide(side: DataFrame): (DataFrame, DataFrame) =
    (side.select(col("new_id"), col("new_sh")),
      side.select(col("new_id"), explode(col("band_keys")).as("band")))

  /** The lookup regime of `minhashLshCrossIndexed`: its local result,
    * or Left(why the join has to run) — an input over a cap, or one
    * whose ids the driver-side verify cannot compare exactly as the
    * join does. */
  private def lookupScreen(
      side: DataFrame, refSh: DataFrame, refBands: DataFrame, threshold: Double,
      sideCap: Int, hitCap: Int, byteCap: Long): Either[String, DataFrame] = {
    val spark = side.sparkSession
    // the join regime's schema, from its analyzed plan alone (no job)
    val schema = {
      val (shNew, bandNew) = keyedSide(side)
      crossVerify(shNew, bandNew, refSh, refBands, threshold).schema
    }
    val newType = schema("new_id").dataType
    val refType = schema("ref_id").dataType
    if (!lookupIdType(newType) || !lookupIdType(refType))
      return Left(s"ids $newType/$refType are not integral or string")
    def bounded(df: DataFrame, cap: Int, job: String): Either[String, Array[UnsafeRow]] = {
      spark.sparkContext.setJobDescription(Lookup + job)
      collectAtMost(df, cap, byteCap)
    }
    def kb(rows: Array[UnsafeRow]): String =
      s"${(rows.map(_.getSizeInBytes.toLong).sum + 1023) / 1024} KB"

    val sideRows = bounded(side, sideCap, sideProbe(sideCap, byteCap)) match {
      case Right(rows) => rows
      case Left(over) => return Left(s"side over cap: $over")
    }
    val live = sideRows.filterNot(_.isNullAt(0))
    val newSh = live.map(r => r.get(0, newType) -> r.getArray(1)).toMap
    if (newSh.size < live.length) return Left(s"duplicate ids among ${sideRows.length} side docs")
    val byKey = live
      .flatMap(r => r.getArray(2).toArray[UTF8String](StringType).map(_ -> r.get(0, newType)))
      .groupMap(_._1)(_._2)
    val sized = s"side docs ${sideRows.length} (${kb(sideRows)}), band keys ${byKey.size}"

    val hits =
      if (byKey.isEmpty) Array.empty[UnsafeRow]
      else bounded(refBands.where(col("band").isin(byKey.keys.map(_.toString).toSeq: _*)),
        hitCap, s"$sized; hit probe, caps $hitCap rows, $byteCap bytes") match {
        case Right(rows) => rows
        case Left(over) => return Left(s"hits over cap: $sized, hit probe $over")
      }
    val pairs = hits.filterNot(_.isNullAt(0))
      .flatMap(h => byKey(h.getUTF8String(1)).map(n => (n, h.get(0, refType))))
      .distinct
    val refs = pairs.map(_._2).distinct
    val hit = s"$sized, hit rows ${hits.length} (${kb(hits)}), candidate refs ${refs.length}"
    // a shingle read its byte cap would stop is not started: candidates
    // near-copy the batch, so the batch's mean shingle row predicts theirs
    if (refs.nonEmpty) {
      val meanSh =
        newSh.values.map(_.asInstanceOf[UnsafeArrayData].getSizeInBytes.toLong).sum / newSh.size
      val predicted = refs.length * (meanSh + 24)
      if (predicted > byteCap)
        return Left(s"shingles over cap: $hit, about $predicted bytes predicted")
    }

    val refRows =
      if (refs.isEmpty) Array.empty[UnsafeRow]
      else bounded(refSh.where(col("ref_id").isin(
        refs.map(CatalystTypeConverters.convertToScala(_, refType)).toSeq: _*)),
        hitCap, s"$hit; shingle read, caps $hitCap rows, $byteCap bytes") match {
        case Right(rows) => rows
        case Left(over) => return Left(s"shingles over cap: $hit, shingle read $over")
      }
    val refShs = refRows.filterNot(_.isNullAt(1)).groupMap(_.get(0, refType))(_.getArray(1))

    val found = for {
      (n, r) <- pairs
      rsh <- refShs.getOrElse(r, Array.empty[ArrayData])
      j = Num.roundDouble(HashKernels.jaccardKernel(newSh(n), rsh), 4)
      if j >= threshold
    } yield (n, r, j)
    val toNew = CatalystTypeConverters.createToScalaConverter(newType)
    val toRef = CatalystTypeConverters.createToScalaConverter(refType)
    val rows = found
      .sorted(Ordering.Tuple3(idOrdering(newType), idOrdering(refType), Ordering.Double.TotalOrdering))
      .map { case (n, r, j) => Row(toNew(n), toRef(r), j) }
    Right(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  /** Id types whose driver-side equality, hashing and order match
    * Spark's join equality and sort. */
  private def lookupIdType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => t == StringType
  }

  /** Spark's ascending sort on catalyst values of a `lookupIdType`:
    * numeric, or UTF-8 byte order for strings. */
  private def idOrdering(t: DataType): Ordering[Any] =
    if (t == StringType) Ordering.fromLessThan[Any](
      (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0)
    else Ordering.by[Any, Long](_.asInstanceOf[Number].longValue)

  /** The rows of `df` when it has at most `cap` of them and they take at
    * most `byteCap` bytes as UnsafeRows, else Left(which cap it passed).
    * One job over every partition: each task ships at most `cap + 1`
    * rows and stops at the first row that takes it past its share of
    * the bytes, `byteCap` over the number of tasks that can run at once
    * (the default parallelism, or fewer partitions); the driver keeps at
    * most `cap` rows and `byteCap` bytes, and cancels the job once a
    * task passes its share or the kept rows would pass a cap. So the
    * results that reach the driver stay under about twice `byteCap`
    * plus one row per task, whatever the parallelism. Runs as a SQL
    * execution, so query listeners and the SQL metrics see it like any
    * collect. */
  private def collectAtMost(
      df: DataFrame, cap: Int, byteCap: Long): Either[String, Array[UnsafeRow]] = {
    require(cap < Int.MaxValue, s"cap $cap leaves no room for the overflow row")
    val qe = df.queryExecution
    val schema = df.schema
    val sc = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some("collectAtMost")) {
      val rdd = qe.toRdd
      val slots = math.max(1, math.min(sc.defaultParallelism, rdd.partitions.length))
      val share = math.max(1L, byteCap / slots)
      val kept = ArrayBuffer.empty[UnsafeRow]
      var keptBytes = 0L
      val over = Promise[String]()
      val job = sc.submitJob(rdd,
        (rows: Iterator[InternalRow]) => takeAtMost(rows, schema, cap + 1, share),
        rdd.partitions.indices,
        (_: Int, part: (Array[UnsafeRow], Long)) => {
          val (rows, bytes) = part
          if (kept.length + rows.length > cap) over.trySuccess(s"over $cap rows")
          else if (bytes > share || keptBytes + bytes > byteCap)
            over.trySuccess(s"over $byteCap bytes")
          else if (!over.isCompleted) { kept ++= rows; keptBytes += bytes }
        },
        ())
      Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
        Duration.Inf)
      over.future.value match {
        case Some(why) => job.cancel(); Left(why.get)
        case None => Await.result(job, Duration.Inf); Right(kept.toArray)
      }
    }
  }

  /** A task's side of `collectAtMost`: copies of its first rows, up to
    * `n` rows or through the first row that takes them past `bytes`,
    * with their summed size. */
  private def takeAtMost(rows: Iterator[InternalRow], schema: StructType,
      n: Int, bytes: Long): (Array[UnsafeRow], Long) = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val out = ArrayBuffer.empty[UnsafeRow]
    var size = 0L
    while (rows.hasNext && out.length < n && size <= bytes) {
      val row = rows.next() match {
        case u: UnsafeRow => u.copy()
        case r => toUnsafe(r).copy()
      }
      out += row
      size += row.getSizeInBytes
    }
    (out.toArray, size)
  }

  /** `minhashLsh` without the final presentation sort — the input shape
    * for consumers that immediately reshuffle (e.g. `dedupClusters`),
    * where a global sort would be pure wasted work. */
  def minhashLshUnsorted(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes evenly: numHashes=$numHashes bands=$bands " +
        "(a non-divisor silently truncates the signature; bands > numHashes " +
        "degenerates every band key to the band index = all-pairs cross join)")
    // the shared side pipeline (spread heuristic, eager shingle
    // checkpoint, band construction — one definition with
    // minhashLshCross). At 100 TB: checkpoint to parquet instead.
    val (sh, banded0) =
      shingleBandSide(docs, idCol, textCol, "id", "sh", numHashes, bands)
    // eager, and outside the CacheManager like the shingles: the
    // self-join's two sides would otherwise EACH recompute the
    // 32-seed signature kernel from the shingle frame
    val banded = banded0.localCheckpoint(true)

    val candidates = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()

    val shA = sh.select(col("id").as("id1"), col("sh").as("sh1"))
    val shB = sh.select(col("id").as("id2"), col("sh").as("sh2"))
    candidates
      .join(shA, "id1").join(shB, "id2")
      // compiled one-pass Jaccard kernel: no intersection array per
      // pair (this verify is the dominant cost when duplicates are
      // dense); value bit-identical to the array_intersect column math
      .withColumn("jaccard", Num.round(GraftBridge.column(graft.expr.JaccardSim(
        GraftBridge.expression(col("sh1")), GraftBridge.expression(col("sh2")))), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** 32-bit SimHash over distinct tokens: bit j of the signature is the
    * sign of sum over tokens of (+1 / -1) according to bit j of
    * md5(token). 32 bits (not 64) keeps the signature < 2^31 so the
    * oracle's BIGINT arithmetic can't overflow.
    *
    * Shape: ONE aggregate pass folding a 32-wide vote vector; the
    * per-token +-1 vector is unrolled with Scala-constant positions and
    * power-of-two divisors (integer ops only). The earlier
    * per-bit-per-token form re-evaluated md5 32x per token (HOFs are
    * interpreted) — 10x slower.
    */
  def simhash32(textCol: Column): Column =
    GraftBridge.column(
      SimHash32(GraftBridge.expression(array_distinct(Analyzer.tokens(textCol)))))

  /** 64-bit SimHash over distinct tokens (first 64 md5 bits as votes).
    * The DuckDB oracle reproduces it as two 32-bit halves (hi/lo) —
    * folding 64 bits into one BIGINT overflows there, but each half
    * stays < 2^32. Spark holds the full signature in one (signed)
    * long. */
  def simhash64(textCol: Column): Column =
    GraftBridge.column(
      graft.expr.SimHash64(GraftBridge.expression(array_distinct(Analyzer.tokens(textCol)))))

  /** SimHash near-dup pairs with hamming distance <= maxHamming,
    * candidate-filtered by 4 LSH bands of 16 bits. With maxHamming <= 3
    * and 4 bands, pigeonhole guarantees at least one identical band, so
    * the band filter loses NO qualifying pair — band-join then exact
    * hamming is equivalent to the all-pairs scan the oracle runs.
    *
    * Scale: 16-bit bands give 65,536 buckets per band, so expected
    * candidate pairs are ~ n^2 / 2^17 per band under a uniform
    * signature distribution — 256x fewer than 32-bit/8-bit
    * banding would give, and the signature entropy (64 bits over md5 votes) keeps
    * buckets near-uniform. Residual hazard at 100x is template-heavy
    * corpora collapsing onto few signatures; that skew is exactly what
    * AQE skew-join (on in GraftSession) splits at runtime.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit bands only guarantee recall for hamming <= 3")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    val sig = spread
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))

    // cache + eager: both self-join sides read the banded frame; left
    // lazy they race the sig cache and recompute the simhash kernel
    val banded = sig.select(
      col("id"), col("sig"),
      explode(array((0 until 4).map { b =>
        concat(lit(s"$b|"),
          shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xffffL)).cast("string"))
      }: _*)).as("band"))
      .cache()
    banded.count()

    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy(col("id1").asc, col("id2").asc)
  }

  /** Pair-count ceiling under which dedupClusters solves the component
    * labeling with a driver union-find instead of the distributed
    * loop. 4M (id1, id2) pairs of longs ≈ 64 MB on the wire —
    * comfortably inside any driver heap that also runs a broadcast
    * join — and path-compressed union-find labels them in well under
    * a second, where EVERY distributed round costs a fixed several
    * hundred ms of job/plan/barrier overhead regardless of data size
    * (a 9-round convergence on a long-chain pair graph is ~3 s of
    * pure per-round overhead at ANY input size below millions of
    * edges). The count is free: the edge cache is materialized
    * eagerly anyway. Same size-adaptive shape as `BroadcastDropLimit`
    * — the regime switch is counted, not guessed, and above the
    * ceiling the published distributed recipe runs. */
  val CcLocalEdgeLimit: Long = 4000000L

  /** Near-duplicate CLUSTERS from a verified pair list: connected
    * components — every document ends up labeled with the smallest
    * doc id reachable through the near-dup relation, which is the
    * cluster id a pipeline keeps / drops against (pairs alone
    * under-delete: a~b, b~c must collapse to ONE survivor).
    *
    * Two regimes behind one contract, chosen by the COUNTED pair
    * cardinality:
    *
    *   - `local` (pairs <= `CcLocalEdgeLimit`): collect the verified
    *     pairs — already a blocked/banded candidate set orders of
    *     magnitude smaller than the corpus — and run path-compressed
    *     union-find on the driver. Exact, and immune to the per-round
    *     fixed cost that dominates the distributed loop at small edge
    *     counts.
    *   - `minlabel` (above the limit): min-label + pointer-jumping
    *     propagation — O(log diameter) rounds, each one edge join +
    *     min-agg + label self-join. On a 200k-node path (diameter
    *     2*10^5) it converged in 19 rounds / 20.0 s, where alternating
    *     large-star/small-star (Kiveris et al. 2014) took the same 19
    *     rounds at 31.5 s: each of its rounds pays two star ops + a
    *     fixpoint check.
    *
    * Both regimes return the identical exact labeling (the specs pin
    * them on the same graphs, including a diameter-1000 chain);
    * non-convergence of the iterative form throws rather than
    * silently returning non-minimal labels. Every job carries a job
    * description naming the regime and the pair count. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    dedupClustersCapped(pairs, maxIters, CcLocalEdgeLimit)

  /** `dedupClusters` under an explicit local-regime pair limit (a
    * negative one always takes the distributed regime). */
  private[graft] def dedupClustersCapped(
      pairs: DataFrame, maxIters: Int, localEdgeLimit: Long): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    // ONE materialization of the (expensive) upstream pair pipeline,
    // shared by both regimes; the count doubles as the regime switch
    val pr = pairs.select(col("id1"), col("id2")).cache()
    try {
      sc.setJobDescription("connected components: counting pairs")
      val nPairs = pr.count()
      val regime = if (nPairs <= localEdgeLimit) "local" else "minlabel"
      sc.setJobDescription(s"connected components: $regime, $nPairs pairs")
      if (regime == "local") ccLocal(pr) else ccMinLabel(pr, maxIters)
    } finally {
      pr.unpersist()
      sc.setLocalProperty(JobDescription, caller)
    }
  }

  /** Spark-SQL-consistent ordering for the id types the pair
    * producers emit (integral, string) — the local regime's "smallest
    * reachable id" must mean exactly what the distributed min()
    * aggregates mean. */
  private def ccCompare(x: Any, y: Any): Int = (x, y) match {
    case (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compare(a, b)
    case (a: java.lang.Integer, b: java.lang.Integer) => Integer.compare(a, b)
    case (a: String, b: String) => a.compareTo(b)
    case (a: java.lang.Number, b: java.lang.Number) =>
      java.lang.Double.compare(a.doubleValue, b.doubleValue)
    case (a: Comparable[_], _) => a.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => x.toString.compareTo(y.toString)
  }

  /** Driver union-find regime: exact min-reachable-id labels over a
    * COUNTED, bounded pair list (see CcLocalEdgeLimit). Path
    * compression + union by size; the component minimum rides on the
    * root, so labeling is one find() per node after the union pass. */
  private def ccLocal(pr: DataFrame): DataFrame = {
    val spark = pr.sparkSession
    val idType = pr.schema("id1").dataType
    val rows = pr.collect()
    // boxed Integer values: a primitive-Int map would unbox a missing
    // key's null to 0 and silently alias every new node onto node 0
    val index = new java.util.HashMap[Any, java.lang.Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def nodeOf(v: Any): Int = {
      val got = index.get(v)
      if (got != null) got.intValue
      else { val i = ids.length; index.put(v, i); ids += v; i }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val size = new scala.collection.mutable.ArrayBuffer[Int]()
    val minOf = new scala.collection.mutable.ArrayBuffer[Any]()
    def ensure(i: Int): Unit =
      while (parent.length <= i) {
        parent += parent.length; size += 1; minOf += ids(parent.length - 1)
      }
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    rows.foreach { r =>
      val a = nodeOf(r.get(0)); val b = nodeOf(r.get(1))
      ensure(math.max(a, b))
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) += size(small)
        if (ccCompare(minOf(small), minOf(big)) < 0) minOf(big) = minOf(small)
      }
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val labeled = ids.indices.map(i => Row(ids(i), minOf(find(i))))
    val schema = StructType(Seq(
      StructField("doc_id", idType, nullable = true),
      StructField("cluster_id", idType, nullable = true)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(labeled.toSeq,
          math.max(1, math.min(32, labeled.size / 50000 + 1))), schema)
      .orderBy(col("doc_id").asc)
  }

  /** Min-label propagation + pointer jumping: the distributed regime
    * of dedupClusters. */
  private def ccMinLabel(pr: DataFrame, maxIters: Int): DataFrame = {
    // both orientations from ONE scan: a union of two selects over the
    // same (expensive, uncached) pair pipeline computes it twice —
    // Spark does no CSE across union branches. No distinct either:
    // every consumer is a min-aggregate, idempotent to duplicates, so
    // the dedup shuffle would be pure cost.
    val edges = pr.select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b")),
        struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .cache()
    // eager: every round joins edges TWICE (neighbor-min + the next
    // round's); materialize once before any branch can race the cache
    // and recompute the (expensive) upstream pair pipeline
    edges.count()
    // Per-round PLAN-LINEAGE TRUNCATION (eager checkpoint): each
    // round's frame references the previous round's THREE times
    // (labels feeds nbrMin, lblOfLbl and the carry), so a cached-only
    // loop re-analyzes a logical tree that expands ~4x per round —
    // Catalyst walks shared subtrees once per PATH, and the
    // execution-start plan description expands them too. Measured:
    // round times 1.3 s -> 5.6 -> 27 -> 177 s -> driver OOM (a 2 GB
    // plan string) on any graph needing 6+ rounds; minhash clone
    // cliques converge in <= 3 rounds, which is why the hazard stayed
    // latent until SemDeDup's keeper ran on sf0.1. Checkpointing per
    // iteration is the GraphX/GraphFrames CC recipe: reliable
    // checkpoint when a checkpoint dir is configured (cluster
    // resilience — blocks survive executor loss), localCheckpoint
    // otherwise (single-JVM local mode, where executor loss is
    // process death anyway). Both are EAGER, doubling as the round's
    // materialization barrier; superseded blocks are dropped by the
    // ContextCleaner when the frame goes out of scope.
    def truncate(df: DataFrame): DataFrame = graft.util.Stages.truncate(df)
    // seed with the neighborhood minimum directly (min of self and all
    // neighbors) — one round cheaper than the identity seeding
    var labels = truncate(edges
      .groupBy(col("a").as("id"))
      .agg(min(col("b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("lbl")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("lbl").as("blbl")), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("blbl")).as("nmin"))
      // pointer jumping: besides the neighbor minimum, adopt the label
      // OF the current label — doubles the propagation horizon per
      // round, so convergence is O(log diameter), not O(diameter).
      // ONE hop per truncate, deliberately: a second lazy hop in the
      // same plan consumes the first hop's subtree from THREE branches
      // (its nbrMin, its lblOfLbl, the carry), so the un-materialized
      // hop-1 work executes 3x — measured: the "halve the barriers"
      // batching made the sf0.1 keeper 34% SLOWER (3.3 -> 4.5 s).
      // Same recompute hazard the edges cache above exists for.
      val lblOfLbl = labels.select(col("id").as("lbl"), col("lbl").as("llbl"))
      // carry the previous label alongside the new one so the
      // convergence check is a count over the checkpointed frame —
      // the truncate() already materialized every partition
      val next = truncate(labels
        .join(nbrMin, Seq("id"), "left")
        .join(lblOfLbl, Seq("lbl"), "left")
        .select(col("id"), least(
          col("lbl"),
          coalesce(col("nmin"), col("lbl")),
          coalesce(col("llbl"), col("lbl"))).as("lbl"),
          col("lbl").as("old")))
      converged = next.where(col("lbl") =!= col("old")).count() == 0
      labels = next.select(col("id"), col("lbl"))
      iter += 1
    }
    edges.unpersist()
    // silent truncation would return NON-minimal labels that diverge
    // from the oracle's exact transitive closure — refuse instead
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge in $maxIters rounds (component diameter > 2^$maxIters?)")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Canonical selection after clustering: per near-dup cluster keep
    * the BEST member by a quality column (ties -> lowest id) — the
    * keep-rule production pipelines want instead of "lowest id wins".
    * The cluster frame is tiny next to the corpus, so the join back to
    * the docs is broadcast-eligible; selection is ONE max_by partial
    * agg (no window over the corpus). */
  def canonicalPerCluster(clusters: DataFrame, docs: DataFrame,
      idCol: String, qualityCol: String): DataFrame =
    clusters
      .join(docs.select(col(idCol).as("doc_id"),
        col(qualityCol).cast("double").as("_q")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("members"),
        // min_by over (-quality, id): highest quality wins, ties go to
        // the LOWEST id — and the id rides in the ORDER struct, so the
        // rule stays deterministic for STRING ids too (a unary minus
        // on a string id casts to null and let max_by pick arbitrarily)
        min_by(col("doc_id"), struct(-col("_q"), col("doc_id"))).as("canonical_id"),
        max(col("_q")).as("best_quality"))
      .orderBy(col("cluster_id"))

  /** Incremental dedup — the daily-ingestion shape: NEW docs are
    * dropped when they near-duplicate an EXISTING doc (old docs always
    * survive; new-vs-new survivors are left to the next full pass).
    * Returns the surviving new ids. Same banded-LSH candidate
    * generation as minhashLsh; the old/new boundary is a flag test on
    * the verified pairs, and removal is one broadcast-able anti-join
    * against the (tiny) duplicate-id frame. */
  def dedupIncrementalNewIds(docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshUnsorted(docs, idCol, textCol, threshold)
    val flags = docs.select(col(idCol).as("_fid"), isNew.as("_fnew"))
    val dupNew = pairs
      .join(flags.select(col("_fid").as("id1"), col("_fnew").as("_new1")), "id1")
      .join(flags.select(col("_fid").as("id2"), col("_fnew").as("_new2")), "id2")
      .where(col("_new1") =!= col("_new2"))
      .select(when(col("_new1"), col("id1")).otherwise(col("id2")).as("doc_id"))
      // distinct first: clone groups repeat each new id once per old
      // partner. Then MATERIALIZE: Catalyst pushes a left-anti join
      // through a Union-shaped left side (PushdownLeftSemiOrAntiJoin),
      // duplicating the RIGHT side per branch — uncached, a 10-branch
      // corpus recomputes the whole LSH pipeline 10x (observed 16 s →
      // 195 s at the 10x probe). Cached + eager, every copy is a scan
      // of this small id frame.
      .distinct().cache()
    dupNew.count()
    docs.where(isNew).select(col(idCol).as("doc_id"))
      .join(dupNew, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Bloom-screened membership dedup — the 100 TB incremental shape
    * when the SEEN corpus is huge but its FILTER is megabytes: build a
    * Bloom filter over the seen side's content hashes (one distributed
    * aggregation; only the bit array reaches the driver), broadcast it
    * into a map-side might-contain prune of the batch, then confirm
    * the survivors of the prune with an EXACT anti-join that only the
    * bloom-positive candidates enter. False positives cost one join
    * row each (verified away); false negatives don't exist, so the
    * OUTPUT IS EXACT — identical to `batch ANTI JOIN seen` — and the
    * oracle checks it hash-exact. `fpp` trades bloom size for
    * candidate-join width.
    *
    * Returns the `doc_id` (renamed `idCol`) of batch rows whose
    * `textCol` content was NOT seen. */
  def bloomScreenNew(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String,
      expectedSeen: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    // the BLOOM keys on a 60-bit truncation (the filter wants a long);
    // the CONFIRMING join uses the FULL md5 — at billions of docs the
    // expected 60-bit cross-text collisions are non-negligible, and a
    // collision at the confirm step would silently drop a genuinely
    // new document, breaking the OUTPUT IS EXACT contract
    val fullHash = md5(col(textCol))
    val hash = conv(substring(fullHash, 1, 15), 16, 10).cast("long")
    val seenH = seen.select(hash.as("h"))
    val filter = seenH.stat.bloomFilter("h", math.max(expectedSeen, 1000L), fpp)
    // broadcast, not a plan literal: the bit array is MBs and a plan
    // reference object would re-ship it with every task
    val bc = batch.sparkSession.sparkContext.broadcast(filter)
    val might = GraftBridge.column(graft.expr.BloomMightContain(
      GraftBridge.expression(hash), bc))
    val candidates = batch.where(might)
    // exact confirmation: only bloom-positive rows reach the join;
    // the seen side shrinks to its hash column. MATERIALIZE the (dup
    // ids only, small) confirmed frame before the anti join — Catalyst
    // pushes left-anti through a Union-shaped left side, duplicating
    // the right side per branch, and an uncached `confirmed` would
    // recompute the whole bloom+verify pipeline once per union branch
    // (the same trap dedupIncrementalNewIds avoids; 9x super-linear at
    // the 30x probe without this cache). Eager localCheckpoint, not
    // cache(): it materializes once AND releases with the plan — a
    // cache() here leaked executor storage for the session lifetime.
    val confirmed = candidates
      .join(seen.select(fullHash.as("_sh")).distinct(),
        fullHash === col("_sh"), "left_semi")
      .select(col(idCol).as("doc_id"))
      .localCheckpoint(true)
    batch.select(col(idCol).as("doc_id"))
      .join(confirmed, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram (shingle) Jaccard over all pairs of a (pre-filtered)
    * subset — the brute-force ground-truth variant; use LSH above when
    * the subset isn't small. Returns top-k pairs by similarity. */
  def ngramJaccardTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    val sh = spread.select(
      col(idCol).as("id"),
      Analyzer.shingles(Analyzer.tokens(col(textCol))).as("sh"))
      .where(size(col("sh")) > 0)
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id1"), col("b.id").as("id2"),
        Num.round(GraftBridge.column(graft.expr.JaccardSim(
          GraftBridge.expression(col("a.sh")),
          GraftBridge.expression(col("b.sh")))), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1").asc, col("id2").asc)
      .limit(k)
  }

  /** Embedding near-dup with a COMPUTED blocking key: SRP-LSH buckets
    * (sign bits of md5-derived hyperplane dots — Ann.tableBuckets, the
    * same machinery as lshTopK), `tables` tables OR'd like MinHash
    * bands: a pair is a candidate when it shares ANY table's bucket.
    * Exact cosine verifies candidates only.
    *
    * This is the unlabeled-corpus form of embeddingTopKPairs: no
    * grouping column is assumed. At 100 TB the exchange carries
    * (bucket, id) pairs, the pair join is bucket-local, and candidate
    * count is bounded by per-bucket occupancy (2^planes buckets per
    * table drive the expected bucket size; raise `planes` with corpus
    * size). Near-identical vectors agree on all sign bits, so recall
    * for the near-dup range (cosine -> 1) approaches 1 while distant
    * pairs land in disjoint buckets. */
  def embeddingTopKPairsLsh(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      tables: Int = 4,
      planes: Int = 8): DataFrame =
    embeddingPairsLshUnsorted(emb, idCol, vecCol, dim, tables, planes)
      .orderBy(col("cosine").desc, col("id1").asc, col("id2").asc)
      .limit(k)

  /** The unsorted (id1, id2, cosine) candidate-pair frame behind
    * embeddingTopKPairsLsh — for thresholded dedup / cluster feeds and
    * for probing candidate counts, where a global sort would be
    * wasted. */
  def embeddingPairsLshUnsorted(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      tables: Int = 4,
      planes: Int = 8): DataFrame = {
    // cache + eager, same discipline as minhash/simhash banding: the
    // bucket self-join's two sides would otherwise EACH re-run the
    // tables*planes SRP kernel, and the two verify joins would each
    // rescan + recast the embedding column
    val e = emb.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .cache()
    val buckets = e.select(col("id"),
      explode(graft.sim.Ann.tableBuckets(col("v"), dim, tables, planes)).as("bucket"))
      .cache()
    buckets.count()
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(e.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(e.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .select(
        col("id1"), col("id2"),
        Num.round(Vectors.cosine(col("v1"), col("v2")), 4).as("cosine"))
  }

  /** Embedding near-dup: top-k most-similar pairs by exact cosine,
    * blocked on a grouping column (a KNOWN cluster/label id) so the
    * pair join is bucket-local. Use embeddingTopKPairsLsh when no such
    * column exists — the usual case on a raw corpus. */
  def embeddingTopKPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      k: Int): DataFrame = {
    val e = emb.select(
      col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).cast("array<double>").as("v"))
    e.as("a").join(e.as("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id1"), col("b.id").as("id2"),
        Num.round(Vectors.cosine(col("a.v"), col("b.v")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("id1").asc, col("id2").asc)
      .limit(k)
  }
  /** Line-level boilerplate dedup (the CCNet/RefinedWeb move): a line
    * occurring in MORE than `maxDocs` distinct documents is machinery
    * (header, nav, cookie banner), not content — drop it from every
    * document and reassemble the rest in order.
    *
    * Scale shape: the exploded (id, pos, line) frame shuffles on the
    * LINE for the occurrence count, but only lines crossing the
    * threshold survive into the boilerplate frame — which is tiny by
    * construction (shared lines) and BROADCASTS into the anti-join, so
    * the corpus itself never reshuffles for the removal. Reassembly is
    * one groupBy(id) carrying (pos, line) pairs.
    *
    * Output: (id, n_lines kept, text_clean) — ONE row per input doc;
    * a doc whose every line was boilerplate comes back as (id, 0, "")
    * rather than vanishing. Blank lines are never counted as
    * boilerplate but are preserved in the reassembly. */
  def dedupLines(
      docs: DataFrame, idCol: String, textCol: String, maxDocs: Int): DataFrame = {
    val lines = docs.select(
      col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boilerplate = lines
      .where(length(trim(col("line"))) > 0)
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") > maxDocs)
      .select(col("line"))
    val kept = lines
      .join(broadcast(boilerplate), Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), "\n").as("text_clean"))
    // a document whose EVERY line was boilerplate must still come back
    // — as (id, 0, "") — or downstream joins silently lose it (or keep
    // its original dirty text); the anti-join left it with no rows
    docs.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Benchmark-contamination screen (training-data decontamination, the
    * GPT-3/Llama n-gram collision recipe): a corpus document is
    * contaminated when it shares any length-`n` token shingle with the
    * benchmark set. Returns (doc_id, matched_ngrams, total_ngrams,
    * contamination_rate) for contaminated docs.
    *
    * Scale shape: the BENCHMARK side is small by definition (eval sets
    * are thousands of docs, the corpus is the 100 TB side), so its
    * distinct shingle set broadcasts and the corpus pass is one
    * explode + broadcast-semi-join + partial-agg groupBy — the corpus
    * is never shuffled by shingle. Real decontamination uses n=13;
    * the knob exists because tiny-vocab corpora need smaller n for any
    * collision to exist at all. */
  def contaminationScreen(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    def sh(df: DataFrame) = df.select(
      col(idCol).as("doc_id"),
      explode(Analyzer.shingles(Analyzer.tokens(col(textCol)), n)).as("s"))
    val benchShingles = broadcast(sh(benchmark).select(col("s")).distinct())
    sh(corpus)
      .join(benchShingles.withColumn("_hit", lit(1)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("_hit")).as("matched_ngrams"),
        count(lit(1)).as("total_ngrams"))
      .where(col("matched_ngrams") > 0)
      .withColumn("contamination_rate",
        graft.util.Num.round(
          col("matched_ngrams") / col("total_ngrams").cast("double"), 6))
      .orderBy(col("contamination_rate").desc, col("doc_id").asc)
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic dedup by
    * CLUSTER-then-compare — k-means-style cluster assignment blocks
    * the pairwise cosine screen to WITHIN-cluster candidates, so the
    * cost is sum over clusters of C(n_c, 2), never C(N, 2). This is
    * the published recipe for dedup at web-corpus scale where even
    * LSH candidate sets are too wide.
    *
    * Deterministic variant: centroids are the first `nCentroids`
    * vectors (one assignment pass, no Lloyd iterations — iterations
    * refine quality, not the shape; the seeded choice keeps the
    * DuckDB oracle exact), assignment = max cosine (round 4, cent-id
    * tie-break). Output: the verified near-dup PAIRS
    * (cluster_id, id1, id2, cosine >= tau) — the decision set a
    * keeper policy (keep-farthest-from-centroid, keep-min-id) folds
    * over; feed them to dedupClusters for connected groups.
    *
    * Scale shape: centroids broadcast (nCentroids rows); ONE exchange
    * on cluster_id for the key-local self-join; the compiled
    * CosineSim kernel runs per candidate pair only. */
  def semanticDedupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      minCosine: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    semanticPairsFrom(v, semanticAssign(v, nCentroids), minCosine)
      .orderBy(col("cluster_id").asc, col("id1").asc, col("id2").asc)
  }

  /** SemDeDup over a FITTED Lloyd quantizer — the list-balance path
    * the seeded draw trades away (Abbas et al. 2023 fit k-means too).
    * Fit determinism is ORACLE-GRADE, engine- and partitioning-
    * independent: assignment rounds cosine to 4 (cent-id tie-break,
    * as everywhere), and iteration means are computed from EXACT
    * decimal(38,18) sums cast to double, divided, and rounded to 6 —
    * a plain double `avg` is addition-order-dependent and would make
    * the fitted centroids (and therefore WHICH pairs get screened)
    * nondeterministic across runs. Empty clusters keep their previous
    * centroid. Only the k×dim model reaches the driver per iteration.
    *
    * Mega-cluster guard (`maxClusterSize`): skew is the screen's
    * failure mode — one cluster holding a corpus fraction makes
    * Σ C(n_c, 2) ≈ C(N, 2), the all-pairs cost the blocking exists to
    * avoid. A cluster over the cap RE-SPLITS into similarity RINGS:
    * members rank by (cosine-to-centroid desc, id) and block
    * `cent#(rank div cap)` — one window over the mega cluster's
    * members, HARD ≤cap blocks by construction. Ranking by centroid
    * similarity keeps near-identical members (equal cosine → adjacent
    * ranks) in the same ring except at boundaries; a sub-k-means
    * re-route was tried and rejected — near-identical members TIE at
    * the rounded cosine and all collapse into one sub-block, which is
    * exactly the case the cap exists for. Pairs across rings are
    * skipped — the same approximation the cluster boundary already
    * makes everywhere else (and exact clones are stage-1 exact
    * dedup's job in every composed pipeline). */
  def semanticDedupPairsKmeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int,
      minCosine: Double,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // assignment is ONE map-only expression over the driver-side
    // centroids (they are on the driver anyway — the mean update
    // collects them every round): a crossJoin with a broadcast
    // centroid frame re-grouped by id would shuffle ~N FULL VECTORS
    // per Lloyd round, and an argmax built as a k x dim LITERAL tree
    // (struct-max over k cosine structs) is a multi-million-node
    // Catalyst tree at the 1e4-centroid target. BestCentroid ships the
    // table as one codegen reference object and computes the round-4
    // argmax (lowest-cent tie-break) in one compiled loop.
    def best(cents: Seq[(Long, Seq[Double])]): Column =
      Dedup.bestCentroidCol(cents)
    try {
      var cents: Seq[(Long, Seq[Double])] = v.orderBy(col("id").asc).limit(nCentroids)
        .as[(Long, Seq[Double])].collect().toSeq
        .zipWithIndex.map { case ((_, vv), i) => (i.toLong, vv) }
      require(cents.nonEmpty, "semanticDedupPairsKmeans: empty corpus")
      for (_ <- 1 to iters) {
        // two-stage select: resolving getField on the aliased struct
        // in the same projection as the generator defeats the
        // analyzer's name fill-in (fields come back col1/col2)
        val means = v
          .select(col("v"), best(cents).as("_b"))
          .select(col("_b").getField("cent").as("cent_id"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cent_id"), col("pos"))
          .agg(Num.round(
            sum(col("x").cast("decimal(38,18)")).cast("double") / count(lit(1)), 6)
            .as("m"))
          .as[(Long, Int, Double)].collect()
        val byCent = means.groupBy(_._1).map { case (cid, xs) =>
          cid -> xs.sortBy(_._2).map(_._3).toSeq
        }
        cents = cents.map { case (cid, old) => (cid, byCent.getOrElse(cid, old)) }
      }
      val asg = v.select(col("id"), best(cents).as("_b"))
        .select(col("id"),
          col("_b").getField("cent").as("k0"),
          col("_b").getField("c").as("ccos"))
      val guarded =
        if (maxClusterSize == Int.MaxValue)
          asg.select(col("id"), col("k0").cast("string").as("cent_id"))
        else {
          val sizes = asg.groupBy(col("k0")).agg(count(lit(1)).as("n_c"))
          val withN = asg.join(broadcast(sizes), "k0")
          val small = withN.where(col("n_c") <= maxClusterSize)
            .select(col("id"), col("k0").cast("string").as("cent_id"))
          val w = Window.partitionBy(col("k0"))
            .orderBy(col("ccos").desc, col("id").asc)
          val rings = withN.where(col("n_c") > maxClusterSize)
            .withColumn("_rn", row_number().over(w))
            .select(col("id"), concat_ws("#", col("k0"),
              floor((col("_rn") - 1) / lit(maxClusterSize.toLong))).as("cent_id"))
          small.unionByName(rings)
        }
      semanticPairsFrom(v, guarded, minCosine)
        .orderBy(col("cluster_id").asc, col("id1").asc, col("id2").asc)
        // materialize before the fit frame unpersists (lazy callers
        // would otherwise re-run the whole fit per action)
        .localCheckpoint(true)
    } finally v.unpersist(false)
  }

  /** Centroid seeding + cluster assignment for SemDeDup.
    * Returns (id, cent_id, cent_cos).
    *
    * Seed = the LOWEST nCentroids ids, whatever the id space: an
    * `id < nCentroids` predicate silently yields zero centroids (and
    * an empty pair frame — "no duplicates" on a corpus full of them)
    * on offset/sparse id spaces. Same trap, same fix as ivfTopK.
    *
    * Assignment = argmax cosine (cent_id tie-break) as a max_by
    * PARTIAL aggregation: the exchange carries ~N pre-combined rows,
    * not the N x |centroids| cross frame a row_number window would
    * hash-shuffle — at 1e9 docs x 1e4 centroids that is the
    * difference between a 1e13-row shuffle and a 1e9-row one. */
  private def semanticAssign(v: DataFrame, nCentroids: Int): DataFrame = {
    // seeds are nCentroids rows by contract — collect them and assign
    // via ONE map-only argmax expression (round-4 cosine, lowest-cent
    // tie-break); a crossJoin + re-group would shuffle ~N pre-combined
    // vector rows. The argmax is the compiled BestCentroid kernel over
    // one reference-object centroid table, not a k x dim literal tree
    // (see bestCentroidCol).
    val spark = v.sparkSession
    import spark.implicits._
    val seeds: Seq[(Long, Seq[Double])] = v.orderBy(col("id").asc).limit(nCentroids)
      .as[(Long, Seq[Double])].collect().toSeq
    if (seeds.isEmpty) // empty corpus: zero rows, same schema as the assign
      return v.select(col("id"), lit(null).cast("long").as("cent_id"),
        lit(null).cast("double").as("cent_cos")).where(lit(false))
    // the kernel returns the table INDEX; cent_id must stay the seed
    // DOC id (it is output-visible as cluster_id). Seeds collect in
    // ascending id order, so index order == id order and the kernel's
    // lowest-index tie-break IS the old lowest-id tie-break; one
    // k-element literal array translates index -> id.
    val cents = seeds.zipWithIndex.map { case ((_, vv), i) => (i.toLong, vv) }
    val best = bestCentroidCol(cents)
    val idArr = lit(seeds.map(_._1).toArray)
    v.select(col("id"),
      element_at(idArr, (best.getField("cent") + 1).cast("int")).as("cent_id"),
      best.getField("c").as("cent_cos"))
  }

  /** Shared argmax-assignment column for the SemDeDup family:
    * struct(c = best round-4 cosine of `v` against the centroids,
    * cent = winning centroid id). Requires the 0-based contiguous
    * centroid ids both callers construct (the kernel returns the
    * table INDEX as the id). */
  private def bestCentroidCol(cents: Seq[(Long, Seq[Double])]): Column = {
    require(cents.nonEmpty, "bestCentroidCol: no centroids")
    cents.zipWithIndex.foreach { case ((cid, _), i) =>
      require(cid == i.toLong, s"centroid ids must be 0-based contiguous, got $cid at $i") }
    val dim = cents.head._2.length
    cents.foreach { case (_, cv) =>
      require(cv.length == dim, "centroid dims must be uniform") }
    org.apache.spark.sql.GraftBridge.column(graft.expr.BestCentroid(
      org.apache.spark.sql.GraftBridge.expression(col("v")),
      cents.flatMap(_._2), dim))
  }

  private def semanticPairsFrom(v: DataFrame, asg: DataFrame, minCosine: Double): DataFrame = {
    val withC = v.join(asg.select(col("id"), col("cent_id")), "id")
    val a = withC.select(col("cent_id"), col("id").as("id1"), col("v").as("v1"))
    val b = withC.select(col("cent_id"), col("id").as("id2"), col("v").as("v2"))
    a.join(b, Seq("cent_id"))
      .where(col("id1") < col("id2"))
      .withColumn("cosine", graft.util.Num.round(Vectors.cosine(col("v1"), col("v2")), 4))
      .where(col("cosine") >= minCosine)
      .select(col("cent_id").as("cluster_id"), col("id1"), col("id2"), col("cosine"))
  }

  /** SemDeDup keeper policy (Abbas et al. 2023 §3): within each
    * connected duplicate GROUP, keep the member FARTHEST from its
    * cluster centroid (lowest cosine to centroid — the most atypical
    * example survives; ties break to the lowest id) and drop the rest.
    * Groups are connected components over the verified pair frame, so
    * a chain a~b~c collapses to one keeper even when a~c was never
    * directly compared. Docs in no group are implicitly all kept —
    * the output lists only the contested groups and their survivor.
    *
    * Scale shape: pairs/components as in semanticDedupPairs +
    * dedupClusters (the pair frame is cached there, so the expensive
    * pair pipeline runs once); the narrow (id, cent_id, cent_cos)
    * assignment is stage-truncated ONCE up front, so both its
    * consumers (the pair screen's centroid-block join and the final
    * keeper fold) read materialized blocks instead of each re-running
    * the corpus×centroids assignment pass (a broadcast scan each would
    * otherwise pay). */
  def semanticDedupKeep(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      minCosine: Double): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val asg = graft.util.Stages.truncate(semanticAssign(v, nCentroids))
    val pairs = semanticPairsFrom(v, asg, minCosine)
    dedupClusters(pairs)
      .join(asg.select(col("id").as("doc_id"), col("cent_cos")), "doc_id")
      .groupBy(col("cluster_id").as("group_id"))
      .agg(
        count(lit(1)).as("members"),
        min_by(col("doc_id"), struct(col("cent_cos"), col("doc_id"))).as("keep_id"),
        min(col("cent_cos")).as("keep_cent_cos"))
      .orderBy(col("group_id").asc)
  }

  /** Embedding-space eval-set DECONTAMINATION: flag corpus docs whose
    * embedding lands within `minCosine` of ANY benchmark embedding —
    * the semantic sibling of the shingle contaminationScreen, and the
    * screen that catches paraphrased/reformatted benchmark leakage
    * n-gram overlap misses.
    *
    * Scale shape: the benchmark side is an EVAL SET — thousands of
    * rows, megabytes of vectors — so it broadcasts whole (loudly
    * bounded like Ann's query frames) and the corpus streams ONCE
    * through the compiled cosine kernel; sub-threshold pairs drop
    * BEFORE the aggregation, so the exchange carries only the flagged
    * hits (contamination is rare by construction). Corpus never
    * shuffles. For a benchmark too big to broadcast, SRP-block both
    * sides first (embeddingTopKPairsLsh's device) — not needed for
    * any real eval suite. Output: (doc id, best-matching benchmark
    * id, best cosine), contaminated docs only. */
  def embeddingContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("doc_id"),
      col(vecCol).cast("array<double>").as("v"))
    val b = benchmark.select(col(idCol).as("bench_id"),
      col(vecCol).cast("array<double>").as("bv"))
    c.crossJoin(broadcast(b))
      .withColumn("cos", Num.round(Vectors.cosine(col("v"), col("bv")), 4))
      .where(col("cos") >= minCosine)
      .groupBy(col("doc_id"))
      .agg(
        max_by(col("bench_id"), struct(col("cos"), negate(col("bench_id")))).as("bench_id"),
        max(col("cos")).as("best_cosine"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-balanced DIVERSE sampling (the SemDeDup-family curation
    * step): assign every embedding to its nearest seed centroid, then
    * keep `perCluster` docs per cluster by a deterministic md5 draw —
    * a subset that spans the embedding space instead of oversampling
    * its dense modes (uniform sampling reproduces the corpus's mode
    * imbalance; this caps every mode at the same budget).
    *
    * Scale shape: assignment is the broadcast-centroid max_by partial
    * agg (semanticAssign — ~N-row exchange, never N x C); the cap is
    * a row_number window PARTITIONED by cluster (cluster-local pass,
    * no global sort); the draw is the shared md5-48 uniform, so the
    * sample is reproducible across retries and engines. */
  def diverseSample(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      perCluster: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val asg = semanticAssign(v, nCentroids)
      .select(col("id"), col("cent_id"),
        Num.round(Num.uniformHash48(concat(lit("diverse:"), col("id").cast("string"))), 6)
          .as("draw"))
    val w = Window.partitionBy(col("cent_id")).orderBy(col("draw").asc, col("id").asc)
    asg.withColumn("rn", row_number().over(w))
      .where(col("rn") <= perCluster)
      .select(col("cent_id").as("cluster_id"), col("id").as("doc_id"), col("draw"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** SemDeDup over the WHITENED embedding space — the Abbas et al.
    * 2023 ablation that decorrelates components before the cosine
    * screen, so similarity stops being dominated by the corpus's
    * highest-variance direction (raw-space cosine calls two vectors
    * "duplicates" merely for sharing the dominant axis). Fit = the
    * two bounded PCA passes (d + d² constant state, driver Jacobi on
    * the d×d covariance only); the projection is d compiled dot
    * kernels, map-only, with coordinates rounded to 4 dp so the
    * DuckDB oracle replays them; the screen is semanticDedupPairs
    * unchanged over the whitened vectors. Component sign and order
    * conventions cancel inside cosine (a coordinate flip applies to
    * both sides of every pair), so the pair set is eigenbasis-stable
    * — the property that makes the closed-form 2-D oracle valid
    * against the Jacobi fit. */
  def semanticDedupPairsWhitened(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nCentroids: Int,
      minCosine: Double): DataFrame = {
    val model = graft.sim.Pca.fit(emb, vecCol, dim)
    val w = array((0 until dim).map(j =>
      Num.round(graft.sim.Pca.whitenedCol(model, col(vecCol), j), 4)): _*)
    semanticDedupPairs(
      emb.where(col(vecCol).isNotNull).select(col(idCol), w.as("__w")),
      idCol, "__w", nCentroids, minCosine)
  }

}

/** Dense-vector column math over array<double>. `cosine` routes to the
  * native CosineSim kernel (one compiled loop, bit-identical fold order
  * to the HOF formulation); dot/norm HOFs remain for composition. */
object Vectors {
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.CosineSim(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** int8 scalar quantization audit for an embedding column — the
    * compression step a 100 TB vector corpus applies before indexing
    * (4x smaller, ES's `int8_hnsw` storage shape). One compiled pass
    * per vector computes [scale, max_err, mse]; map-only, no shuffle.
    * Whole-stage codegen's subexpression elimination runs the kernel
    * once per row despite the three element_at projections. */
  def quantizeInt8Stats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = org.apache.spark.sql.GraftBridge.column(
      graft.expr.Int8QuantStats(
        org.apache.spark.sql.GraftBridge.expression(col(vecCol))))
    df.select(
      col(idCol).as("id"),
      graft.util.Num.round(element_at(stats, 1), 6).as("scale"),
      graft.util.Num.round(element_at(stats, 2), 6).as("max_err"),
      graft.util.Num.round(element_at(stats, 3), 6).as("mse"))
      .orderBy(col("id").asc)
  }

  /** int4 twin of the audit above (ES 8.18 `int4_hnsw`, 8x smaller):
    * same one-pass [scale, max_err, mse] kernel at 7 levels — run both
    * audits to price the extra quantization error against the 2x
    * storage/IO saving over int8. */
  def quantizeInt4Stats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = org.apache.spark.sql.GraftBridge.column(
      graft.expr.Int4QuantStats(
        org.apache.spark.sql.GraftBridge.expression(col(vecCol))))
    df.select(
      col(idCol).as("id"),
      graft.util.Num.round(element_at(stats, 1), 6).as("scale"),
      graft.util.Num.round(element_at(stats, 2), 6).as("max_err"),
      graft.util.Num.round(element_at(stats, 3), 6).as("mse"))
      .orderBy(col("id").asc)
  }
}
