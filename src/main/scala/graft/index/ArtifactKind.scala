package graft.index

import graft.analysis.Analyzer
import graft.dedup.Dedup
import graft.sim.Ann
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JValue

/** One table of an artifact: its name under the artifact dir, the rows
  * that encode a frame of docs, and the layout a build writes them in
  * (an append writes them as they come). */
final case class ArtifactTable(
    name: String, rows: DataFrame, built: DataFrame => DataFrame = identity)

/** What an artifact froze at build — banding, centroids, codebook,
  * packed dimension, corpus scalars — bound to encode any frame of the
  * artifact's docs. An append encodes under it unchanged. */
trait FrozenArtifact {

  /** The tables encoding `docs` (a `prepare`d frame), the kind's
    * `known` table last: writing a table re-caches every plan that
    * reads it, and the increment anti-joins the known table. */
  def tables(docs: DataFrame): Seq[ArtifactTable]

  /** Meta fields after the source column. `tally` is the
    * (n, n_nonnull, n_distinct, stats...) row over the encoded docs:
    * the audit's on an append, and on a build of a kind with stats. */
  def fields(tally: Row): Seq[(String, Any)] = Nil

  /** False when an increment cannot encode under this state. */
  def accepts(docs: DataFrame): Boolean = true
}

/** A persisted artifact kind. The table below is the ONE place that
  * knows which kinds exist; `Connector.save` maintains one artifact per
  * column of each `graft.index.<name>` option through
  * `IndexArtifacts.maintain`, stored under `<index>/_graft_<name>/<col>/`
  * (underscore-prefixed, so ordinary reads of the index skip it). */
sealed abstract class ArtifactKind(
    /** `graft.index.<name>` option and `_graft_<name>` artifact dir. */
    val name: String,
    /** The meta field naming the source column. */
    val colField: String,
    /** The table whose `id` column lists the docs the artifact covers. */
    val known: String) {

  def option: String = s"graft.index.$name"

  def dir(indexPath: String, c: String): String = s"$indexPath/_graft_$name/$c"

  /** The index rows the artifact covers. */
  def rows(data: DataFrame, c: String): DataFrame = data

  /** (`id`, ...): one row per covered doc, the frame `tables` encode. */
  def prepare(rows: DataFrame, idCol: String, c: String): DataFrame =
    rows.select(col(idCol).as("id"), col(c).as("vec"))

  /** The whole corpus as a build reads it. */
  def whole(rows: DataFrame): DataFrame = rows

  /** Whether a repeated id refuses an append (else the meta records it). */
  def distinctIds: Boolean = true

  /** Aggregates over the prepared docs that the meta records. */
  def stats: Seq[Column] = Nil

  /** The state a build freezes over the prepared corpus `docs`, writing
    * any build-only table under `dir`: under the parameters `recorded`
    * (the parsed meta of the artifact being rebuilt) holds, else the
    * options'. */
  def freeze(spark: SparkSession, dir: String, docs: DataFrame,
      opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact

  /** The state a built artifact froze, from its `meta`; `stored` is the
    * prepared docs it covers. None when the meta does not parse for
    * this kind. */
  def thaw(spark: SparkSession, dir: String, meta: JValue, stored: DataFrame): Option[FrozenArtifact]

  protected def opt(opts: Map[String, String], key: String, default: String): String =
    opts.getOrElse(s"$option.$key", default)
}

object ArtifactKind {
  import IndexArtifacts.{metaInt, metaStr}

  private def byRange(c: String): DataFrame => DataFrame =
    _.repartitionByRange(col(c)).sortWithinPartitions(col(c))

  /** BM25 postings: (term, id, dl, tf) range-partitioned and sorted by
    * term in every segment, build or append, so a `term IN (...)` read
    * prunes row groups; doclen (id, dl) has every doc. The frozen state
    * is the corpus scalars, which an append merges EXACTLY (dl values
    * are integer token counts, so the double sums are exact below 2^53
    * tokens and the merged avgdl is bit-equal to a rebuild's). */
  case object Analysis extends ArtifactKind("analysis", "text_col", "doclen") {
    override def prepare(rows: DataFrame, idCol: String, c: String): DataFrame =
      rows.select(col(idCol).as("id"), Analyzer.tokens(col(c)).as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
    override def distinctIds: Boolean = false
    override def stats: Seq[Column] = Seq(count(col("dl")), sum(col("dl")))
    def freeze(spark: SparkSession, dir: String, docs: DataFrame,
        opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact =
      Corpus(IndexArtifacts.AnalysisScalars(idsClean = true, 0L, 0L, 0.0))
    def thaw(spark: SparkSession, dir: String, meta: JValue,
        stored: DataFrame): Option[FrozenArtifact] =
      IndexArtifacts.analysisScalars(meta).map(Corpus)
  }

  /** n_docs counts every doc (null text included) and avgdl =
    * dl_sum / n_dl is avg(dl), as the on-the-fly scorer computes them.
    * ids_clean: every id non-null and unique — the filter-context
    * postings semi-join is row-set-equal to the predicate path only
    * then; scoring tolerates both. */
  private final case class Corpus(s: IndexArtifacts.AnalysisScalars) extends FrozenArtifact {
    def tables(docs: DataFrame): Seq[ArtifactTable] = Seq(
      ArtifactTable("postings", docs
        .select(col("id"), col("dl"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col("id"), col("dl"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))),
      ArtifactTable("doclen", docs.select(col("id"), col("dl"))))
    override def fields(tally: Row): Seq[(String, Any)] = {
      val n = tally.getLong(0)
      Seq("ids_clean" -> (s.idsClean && n == tally.getLong(1) && n == tally.getLong(2)),
        "n_docs" -> (s.nDocs + n), "n_dl" -> (s.nDl + tally.getLong(3)),
        "dl_sum" -> (s.dlSum + (if (tally.isNullAt(4)) 0.0 else tally.getDouble(4))))
    }
  }

  /** Dedup-once: per-doc shingle sets and LSH band keys, so deduping a
    * crawl against the corpus never re-tokenizes or re-minhashes it
    * (`Dedup.minhashLshCrossIndexed`). Band keys from a different
    * banding would join garbage, so the meta records it and loads
    * param-check. Empty-shingle docs are never stored: they reappear in
    * each increment and drop again, and the append audit counts them
    * on the fresh side. */
  case object Minhash extends ArtifactKind("minhash", "text_col", "shingles") {
    override def prepare(rows: DataFrame, idCol: String, c: String): DataFrame =
      Dedup.shingleSets(rows, idCol, c)
    override def whole(rows: DataFrame): DataFrame = Dedup.spread(rows)
    def freeze(spark: SparkSession, dir: String, docs: DataFrame,
        opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact =
      recorded.flatMap(banding).getOrElse(
        Banding(opt(opts, "hashes", "32").toInt, opt(opts, "bands", "8").toInt))
    def thaw(spark: SparkSession, dir: String, meta: JValue,
        stored: DataFrame): Option[FrozenArtifact] = banding(meta)
    private def banding(meta: JValue): Option[Banding] =
      for (nh <- metaInt(meta, "num_hashes"); nb <- metaInt(meta, "bands")) yield Banding(nh, nb)
  }

  private final case class Banding(numHashes: Int, bands: Int) extends FrozenArtifact {
    def tables(docs: DataFrame): Seq[ArtifactTable] = {
      val sh = docs.where(size(col("sh")) > 0)
      Seq(ArtifactTable("bands", Dedup.bandRows(sh, numHashes, bands), byRange("band")),
        ArtifactTable("shingles", sh))
    }
    override def fields(tally: Row): Seq[(String, Any)] =
      Seq("num_hashes" -> numHashes, "bands" -> bands)
  }

  /** IVF: the coarse quantizer's centroids, fitted once (`seed`, the
    * deterministic first-n-by-id default, or `kmeans`) and frozen, and
    * the per-doc list assignments clustered by list on disk, so a probe
    * of one list reads contiguous files. Appends route new docs to the
    * existing lists; the quantizer never refits. */
  case object Ivf extends ArtifactKind("vectors", "vec_col", "assignments") {
    def freeze(spark: SparkSession, dir: String, docs: DataFrame,
        opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact = {
      val n = opt(opts, "centroids", "16").toInt
      val cents = opt(opts, "fit", "seed") match {
        case "seed" => Ann.seedCentroids(docs, "id", "vec", n)
        case "kmeans" => Ann.kmeansCentroids(docs, "id", "vec", n)
        case other => throw new IllegalArgumentException(s"unknown $option.fit: $other")
      }
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      Lists(spark.read.parquet(s"$dir/centroids"))
    }
    def thaw(spark: SparkSession, dir: String, meta: JValue,
        stored: DataFrame): Option[FrozenArtifact] =
      Some(Lists(spark.read.parquet(s"$dir/centroids")))
  }

  private final case class Lists(cents: DataFrame) extends FrozenArtifact {
    def tables(docs: DataFrame): Seq[ArtifactTable] = Seq(ArtifactTable("assignments",
      Ann.assignToCentroids(docs, "id", "vec", cents), byRange("cent_id")))
  }

  /** Pack-once codes of a `PackedCodec` over the non-null vectors. A
    * dimension-bound codec freezes the first non-empty vector's
    * dimension (an empty vector must not define the layout); an
    * increment of any other dimension, or of several, rebuilds. */
  final case class Packed(codec: PackedCodec) extends ArtifactKind(codec.name, "vec_col", "packed") {
    override def rows(data: DataFrame, c: String): DataFrame = data.where(col(c).isNotNull)
    def freeze(spark: SparkSession, dir: String, docs: DataFrame,
        opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact =
      new Dim(codec, dims(docs).limit(1).collect().headOption.map(_.getInt(0)))
    def thaw(spark: SparkSession, dir: String, meta: JValue,
        stored: DataFrame): Option[FrozenArtifact] = Some(freeze(spark, dir, stored, Map.empty, None))
  }

  private def dims(docs: DataFrame): DataFrame =
    docs.select(size(col("vec")).as("d")).where(col("d") > 0)

  private final class Dim(codec: PackedCodec, probe: => Option[Int]) extends FrozenArtifact {
    private lazy val dim = probe
    def tables(docs: DataFrame): Seq[ArtifactTable] =
      Seq(ArtifactTable("packed", codec.pack(docs, "id", "vec", dim.get)))
    override def accepts(docs: DataFrame): Boolean = !codec.dimBound || {
      val fresh = dims(docs).distinct().limit(2).collect().map(_.getInt(0))
      fresh.length == 1 && dim.contains(fresh.head)
    }
  }

  /** PQ: m code bytes per doc under a codebook FROZEN at build — an ES
    * segment's quantizer. `sample` is the deterministic first-k-by-id
    * codebook the on-the-fly `pqTopK` uses (answer-equal, and the
    * DuckDB oracle can rebuild it); `lloyd` refines it by k-means over
    * the id-ordered sample; `lloyd-dist` is the distributed unbiased
    * fit at `fit.sample_n` / `fit.iters`. The meta records the fit, so
    * a rebuild re-fits the same way: a lloyd artifact silently rebuilt
    * as sample would lose recall behind a fresh meta stamp. */
  case object Pq extends ArtifactKind("pq", "vec_col", "codes") {
    override def rows(data: DataFrame, c: String): DataFrame = data.where(col(c).isNotNull)
    def freeze(spark: SparkSession, dir: String, docs: DataFrame,
        opts: Map[String, String], recorded: Option[JValue]): FrozenArtifact = {
      val p = recorded.flatMap(fit).getOrElse(PqFit(opt(opts, "m", "4").toInt,
        opt(opts, "k", "16").toInt, opt(opts, "fit", "sample"),
        opt(opts, "fit.sample_n", "65536").toInt, opt(opts, "fit.iters", "5").toInt))
      val cb = p.fit match {
        case "sample" => Ann.pqSampleCodebooks(docs, "id", "vec", p.m, p.k)
        case "lloyd" => Ann.pqFitCodebooks(docs, "id", "vec", p.m, p.k)
        case "lloyd-dist" => Ann.pqFitCodebooksDist(
          docs, "id", "vec", p.m, p.k, iters = p.iters, sampleN = p.sampleN)
        case other => throw new IllegalArgumentException(
          s"unknown $option.fit: $other (sample | lloyd | lloyd-dist)")
      }
      import spark.implicits._
      Seq(cb.toSeq).toDF("cb").write.mode("overwrite").parquet(s"$dir/codebook")
      Codes(p, cb)
    }
    def thaw(spark: SparkSession, dir: String, meta: JValue,
        stored: DataFrame): Option[FrozenArtifact] =
      fit(meta).map(Codes(_, IndexArtifacts.storedCodebook(spark, dir)))
    private def fit(meta: JValue): Option[PqFit] = for {
      m <- metaInt(meta, "m"); k <- metaInt(meta, "k"); f <- metaStr(meta, "fit")
      n <- metaInt(meta, "fit_sample_n"); it <- metaInt(meta, "fit_iters")
    } yield PqFit(m, k, f, n, it)
  }

  private final case class PqFit(m: Int, k: Int, fit: String, sampleN: Int, iters: Int)

  private final case class Codes(p: PqFit, cb: Array[Double]) extends FrozenArtifact {
    def tables(docs: DataFrame): Seq[ArtifactTable] =
      Seq(ArtifactTable("codes", Ann.pqEncodeFrame(docs, "id", "vec", cb, p.m, p.k)))
    override def fields(tally: Row): Seq[(String, Any)] = Seq("m" -> p.m, "k" -> p.k,
      "fit" -> p.fit, "fit_sample_n" -> p.sampleN, "fit_iters" -> p.iters)
  }

  /** Write-dispatch order of the `graft.index.<name>` options. */
  val all: Seq[ArtifactKind] = Seq(Analysis, Minhash, Ivf) ++ PackedCodec.all.map(Packed) :+ Pq
}
