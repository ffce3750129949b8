package graft.index

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** A packed-vector codec: the quantized storage an ES segment writes
  * for `int8_hnsw` / `int4_hnsw` / BBQ, and the lossy score its coarse
  * knn pass runs over that storage. The codec table below is the ONE
  * place that knows which codecs exist; every layer is driven by it:
  *  - write path: `Connector.save` maintains one artifact per
  *    `graft.index.<name>` option (`ArtifactKind.Packed`, through
  *    `IndexArtifacts.maintain`), stored under `<index>/_graft_<name>/<vecCol>/`;
  *  - query path: both forms rank the `coarse` score over `pack` rows
  *    and keep the best k·oversample of them, then read only that
  *    window's raw vectors (a broadcast semi-join against the index)
  *    for the exact cosine. `Ann.packedTopK` packs the index in-plan;
  *    `Ann.packedTopKIndexed` reads the packed table of a fresh
  *    artifact (`IndexArtifacts.load`) and the index through the
  *    schema cache, so a repeated query infers no schema. They rank
  *    the same packed rows, so they are answer-equal by construction.
  *
  * `pack` drops null-vector rows: a null packs as all-zero codes whose
  * coarse estimate can outrank every real doc and flood the window. */
sealed abstract class PackedCodec(
    /** `graft.index.<name>` option and `_graft_<name>` artifact dir. */
    val name: String,
    /** Output column carrying the coarse score beside the exact cosine. */
    val scoreName: String) {

  /** True when the packed layout depends on the corpus dimension, so
    * an append must match the dimension the artifact was built with. */
  def dimBound: Boolean = false

  /** (id, packed...) frame over the non-null vectors. `dim` is only
    * evaluated by dimension-bound codecs. */
  def pack(corpus: DataFrame, idCol: String, vecCol: String, dim: => Int): DataFrame

  /** The coarse score over a `pack` frame vs the raw query. */
  def coarse(queryVec: Seq[Double]): Column
}

object PackedCodec {

  /** Scale header + integer codes in one binary `pk` column; the packed
    * score agrees exactly with the dequantized cosine of the raw vector
    * (Int8PackedCosine == QuantizedCosine, Int4PackedCosine == Int4Cosine). */
  sealed abstract class Scalar(
      name: String,
      packFn: Expression => Expression,
      scoreFn: (Expression, Expression) => Expression) extends PackedCodec(name, "quantized") {
    def pack(corpus: DataFrame, idCol: String, vecCol: String, dim: => Int): DataFrame =
      corpus.where(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), GraftBridge.column(packFn(
          GraftBridge.expression(col(vecCol).cast("array<double>")))).as("pk"))
    def coarse(queryVec: Seq[Double]): Column =
      GraftBridge.column(scoreFn(GraftBridge.expression(col("pk")),
        GraftBridge.expression(array(queryVec.map(lit): _*))))
  }

  /** ES default `int8_hnsw`: 8-byte scale + one code byte per dim (4x). */
  case object Int8 extends Scalar("int8",
    graft.expr.Int8Pack(_), graft.expr.Int8PackedCosine(_, _))

  /** ES 8.18 `int4_hnsw`: 8-byte scale + two half-byte codes per byte (8x). */
  case object Int4 extends Scalar("int4",
    graft.expr.Int4Pack(_), graft.expr.Int4PackedCosine(_, _))

  /** ES 8.16 BBQ: one sign bit per dim in two 32-bit halves (lo = dims
    * 1..32, hi = 33..64) so the DuckDB oracle's BIGINT arithmetic
    * replicates the packing exactly; dims <= 64. The coarse score is
    * the ASYMMETRIC estimate dot(q, sign(v)) — the query stays full
    * precision, which is what makes 1-bit storage rankable — folded in
    * ascending-dim order so the float sum is identical on both engines. */
  case object Bbq extends PackedCodec("bbq", "bscore") {
    override def dimBound: Boolean = true

    def pack(corpus: DataFrame, idCol: String, vecCol: String, dim: => Int): DataFrame = {
      val d = dim
      require(d >= 1 && d <= 64, "bbq packing supports 1..64 dims")
      val v = col(vecCol).cast("array<double>")
      def bits(dims: Range, shift: Int): Column =
        if (dims.isEmpty) lit(0L)
        else dims.map(i =>
          when(element_at(v, i + 1) > 0.0, lit(1L << (i - shift))).otherwise(lit(0L)))
          .reduce(_ + _)
      corpus.where(col(vecCol).isNotNull)
        .select(col(idCol).as("id"),
          bits(0 until math.min(32, d), 0).as("b_lo"),
          bits(32 until d, 32).as("b_hi"))
    }

    def coarse(queryVec: Seq[Double]): Column =
      queryVec.indices.map { i =>
        val bits = if (i < 32) col("b_lo") else col("b_hi")
        val mask = 1L << (if (i < 32) i else i - 32)
        when(bits.bitwiseAND(lit(mask)) =!= 0L, lit(queryVec(i)))
          .otherwise(lit(-queryVec(i)))
      }.reduce(_ + _)
  }

  /** Write-dispatch order of the `graft.index.<name>` options. */
  val all: Seq[PackedCodec] = Seq(Int4, Int8, Bbq)
}
