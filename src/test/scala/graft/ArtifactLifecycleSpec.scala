package graft

import scala.jdk.CollectionConverters._

import graft.index.{ArtifactKind, IndexArtifacts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The artifact lifecycle under random write sequences through
  * `Connector.save`, every kind on: after each write — an `index`
  * upsert, appends with fresh, colliding or null ids, an append after
  * every meta was deleted — each artifact loads fresh, and its tables
  * (as sorted rows) and meta (fingerprint aside) equal what a rebuild
  * of the same data writes. The IVF centroids and the PQ codebook fit
  * from the first ids (2 and 4 of them): fresh ids grow past every
  * stored one and colliding ids land past the first four, so those
  * seeds stay the ones the build froze and are never a tie between
  * rows of one id, and a rebuild freezes the same parameters. */
class ArtifactLifecycleSpec extends SparkSpec with SpecTempRoot {

  override protected def tempRootPrefix = "gl"

  private val opts = Map(
    "graft.mapping.id" -> "id",
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

  /** (kind, source column) of every artifact `opts` asks for. */
  private val artifacts: Seq[(ArtifactKind, String)] =
    ArtifactKind.all.map(k => k -> opts(k.option))

  private case class Doc(id: Option[Long], text: Option[String], vec: Seq[Double])

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf")
  private val text: Gen[Option[String]] = Gen.frequency(
    8 -> Gen.choose(0, 7).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))).map(w => Some(w.mkString(" "))),
    1 -> Gen.const(None))
  /** 4 dims, no zero vector (cosine needs a norm). */
  private val vec: Gen[Seq[Double]] =
    Gen.listOfN(4, Gen.choose(1, 9).flatMap(v => Gen.oneOf(v / 10.0, -v / 10.0)))
  private def docs(ids: Seq[Option[Long]]): Gen[Seq[Doc]] =
    Gen.sequence[Seq[Doc], Doc](ids.map(i => for (t <- text; v <- vec) yield Doc(i, t, v)))

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      ds.map(d => Row(d.id.orNull, d.text.orNull, d.vec)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("vec", ArrayType(DoubleType)))))

  /** The five writes; each draws its batch from the ids stored so far. */
  private val ops = Seq("index", "fresh", "collide", "null", "nometa")

  private def batch(op: String, stored: Seq[Long]): Gen[Seq[Doc]] = {
    val next = stored.max + 1
    Gen.choose(1, 3).flatMap { n =>
      op match {
        case "index" => Gen.listOfN(n, Gen.oneOf(stored :+ next)).map(_.distinct.map(Some(_)))
          .flatMap(docs)
        case "collide" => Gen.listOfN(n, Gen.oneOf(stored.filter(_ > 4)))
          .map(_.map(Some(_))).flatMap(docs)
        case "null" => docs(Seq(None, Some(next)))
        case _ => docs((next until next + n).map(Some(_)))
      }
    }
  }

  private var cases = 0
  private var appended, rebuilt = 0

  /** Data files of the known-id table of every artifact. */
  private def knownFiles(idx: String): Set[String] = artifacts.flatMap { case (k, c) =>
    Option(new java.io.File(s"${k.dir(idx, c)}/${k.known}").list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).map(f => s"${k.name}/$f")
  }.toSet

  private def write(idx: String, op: String, b: Seq[Doc]): Unit = {
    if (op == "nometa") artifacts.foreach { case (k, c) =>
      new java.io.File(s"${k.dir(idx, c)}/_graft_meta.json").delete()
    }
    graft.sources.Connector.save(frame(b), idx,
      opts + ("graft.write.operation" -> (if (op == "index") "index" else "append")))
  }

  private def fresh(kind: ArtifactKind, idx: String, c: String): Boolean = kind match {
    case ArtifactKind.Analysis => IndexArtifacts.loadAnalysis(spark, idx, c, Some("id")).isDefined
    case ArtifactKind.Minhash => IndexArtifacts.loadMinhash(spark, idx, c, Some("id")).isDefined
    case ArtifactKind.Ivf => IndexArtifacts.loadIvf(spark, idx, c, Some("id")).isDefined
    case ArtifactKind.Packed(codec) => IndexArtifacts.loadPacked(spark, codec, idx, c, Some("id")).isDefined
    case ArtifactKind.Pq => IndexArtifacts.loadPq(spark, idx, c, Some("id")).isDefined
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def tables(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map { t =>
      t.getName -> spark.read.parquet(t.getPath).collect().toSeq
        .map(_.toSeq.map(cell).mkString("(", ", ", ")")).sorted
    }.toMap

  private def meta(dir: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_meta.json")), "UTF-8")
      .replaceFirst("\"fingerprint\":\"[0-9a-f]{32}\"", "\"fingerprint\":\"FP\"")

  /** Every artifact of `idx` is fresh and equals a rebuild of a copy of
    * its data. */
  private def agreesWithRebuild(idx: String, stage: String): Prop = {
    val ref = specRoot.resolve(s"ref$cases-${System.nanoTime()}").toFile
    ref.mkdirs()
    new java.io.File(idx).listFiles().filterNot(f => f.getName.startsWith("_") ||
      f.getName.startsWith(".")).foreach(f => org.apache.commons.io.FileUtils.copyFileToDirectory(f, ref))
    artifacts.foreach { case (k, c) =>
      IndexArtifacts.maintain(spark, k, ref.getPath, "id", c, append = false, opts)
    }
    Prop.all(artifacts.map { case (k, c) =>
      val (got, want) = (k.dir(idx, c), k.dir(ref.getPath, c))
      // strict: the checks must see this write's state, not the last's
      val (isFresh, gt, wt, gm, wm) =
        (fresh(k, idx, c), tables(got), tables(want), meta(got), meta(want))
      Prop(isFresh) :| s"$stage: ${k.name} not fresh" &&
        Prop(gt == wt) :| s"$stage: ${k.name} tables\n$gt\nrebuild\n$wt" &&
        Prop(gm == wm) :| s"$stage: ${k.name} meta $gm\nrebuild $wm"
    }: _*)
  }

  test("property: after every write each artifact is fresh and equals a rebuild") {
    // every case runs all five writes, in a drawn order; each batch
    // draws from its own seed once the ids it builds on are stored
    val gen = for {
      n <- Gen.choose(6, 8)
      base <- docs((1L to n.toLong).map(Some(_)))
      keys <- Gen.listOfN(ops.size, Gen.long)
    } yield (base, ops.zip(keys).sortBy(_._2))
    val prop = Prop.forAllNoShrink(gen) { case (base, order) =>
      cases += 1
      val idx = specRoot.resolve(s"idx$cases").toString
      write(idx, "index", base)
      val atBuild = agreesWithRebuild(idx, "build")
      val atWrites = order.map { case (op, key) =>
        val stored = spark.read.parquet(idx).where("id IS NOT NULL")
          .select("id").collect().map(_.getLong(0)).toSeq
        val b = batch(op, stored).pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(key))
        val before = knownFiles(idx)
        write(idx, op, b)
        // an append keeps every known-table file; a rebuild starts over
        if (before.subsetOf(knownFiles(idx))) appended += 1 else rebuilt += 1
        agreesWithRebuild(idx, s"$op of $b")
      }
      Prop.all(atBuild +: atWrites: _*)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
    // both paths were compared
    assert(appended >= 1 && rebuilt >= 1, s"appended $appended, rebuilt $rebuilt")
  }
}
