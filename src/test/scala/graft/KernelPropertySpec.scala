package graft

import graft.expr.HashKernels
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: each compiled kernel vs an obviously-correct naive
  * reference over randomized inputs. Pure JVM — no Spark session.
  * (scalacheck drives the generators; scalatest hosts the suite, so
  * failures surface with the usual reporting.) */
class KernelPropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private def arr(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  private val word: Gen[String] = Gen.choose(1, 3)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val doc: Gen[List[String]] = Gen.choose(0, 14).flatMap(Gen.listOfN(_, word))

  test("phraseSlopKernel == exhaustive ordered-chain search") {
    // naive: some strictly-increasing position tuple (p1..pk), token
    // at p_i == term_i, consecutive gap p_i - p_{i-1} <= slop + 1
    def naive(toks: List[String], terms: List[String], slop: Int): Boolean = {
      def go(i: Int, prev: Int): Boolean =
        if (i == terms.length) true
        else (prev + 1 until toks.length).exists { p =>
          toks(p) == terms(i) && (prev < 0 || p - prev <= slop + 1) && go(i + 1, p)
        }
      go(0, -1)
    }
    val gen = for {
      toks <- doc
      k <- Gen.choose(2, 3)
      terms <- Gen.listOfN(k, word)
      slop <- Gen.choose(0, 4)
    } yield (toks, terms, slop)
    check(Prop.forAll(gen) { case (toks, terms, slop) =>
      HashKernels.phraseSlopKernel(
        arr(toks), terms.map(UTF8String.fromString).toArray, slop) ==
        naive(toks, terms, slop)
    })
  }

  test("spanNearKernel == exhaustive any-order window search") {
    def naive(toks: List[String], terms: List[String], slop: Int): Boolean = {
      val positions = terms.map(t => toks.zipWithIndex.filter(_._1 == t).map(_._2))
      if (positions.exists(_.isEmpty)) false
      else {
        def tuples(ps: List[List[Int]]): List[List[Int]] = ps match {
          case Nil => List(Nil)
          case h :: t => for (x <- h; rest <- tuples(t)) yield x :: rest
        }
        tuples(positions).exists { tup =>
          (tup.max - tup.min + 1) - terms.length <= slop
        }
      }
    }
    val gen = for {
      toks <- doc
      k <- Gen.choose(2, 3)
      terms <- Gen.listOfN(k, word).suchThat(ts => ts.distinct.size == ts.size)
      slop <- Gen.choose(0, 4)
    } yield (toks, terms, slop)
    check(Prop.forAll(gen) { case (toks, terms, slop) =>
      HashKernels.spanNearKernel(
        arr(toks), terms.map(UTF8String.fromString).toArray, slop) ==
        naive(toks, terms, slop)
    })
  }

  test("jaccardKernel == set-based Jaccard on distinct inputs") {
    val distinctList = doc.map(_.distinct)
    check(Prop.forAll(distinctList, distinctList) { (a, b) =>
      val expect =
        if (a.isEmpty && b.isEmpty) 0.0
        else {
          val inter = a.toSet.intersect(b.toSet).size
          inter.toDouble / ((a.size + b.size) - inter.toDouble)
        }
      HashKernels.jaccardKernel(arr(a), arr(b)) == expect
    })
  }

  test("tokenizeKernel == lowercase regex split") {
    val text = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.oneOf(' ', '.', ',', '-', '!', '\n'),
      1 -> Gen.oneOf('é', 'ß', '中'))).map(_.mkString)
    check(Prop.forAll(text) { s =>
      val got = HashKernels.tokenizeKernel(UTF8String.fromString(s))
      val want = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == want
    })
  }

  test("shinglesKernel == distinct sliding 3-gram join") {
    check(Prop.forAll(doc) { toks =>
      val got = HashKernels.shinglesKernel(arr(toks), 3)
      val want = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq.distinct
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == want
    })
  }

  test("spanNearKernel subsumes phraseSlopKernel (ordered implies unordered)") {
    val gen = for {
      toks <- doc
      terms <- Gen.listOfN(2, word).suchThat(ts => ts.distinct.size == ts.size)
      slop <- Gen.choose(0, 4)
    } yield (toks, terms, slop)
    check(Prop.forAll(gen) { case (toks, terms, slop) =>
      val t = terms.map(UTF8String.fromString).toArray
      // an ordered chain within slop is a window within slop
      !HashKernels.phraseSlopKernel(arr(toks), t, slop) ||
        HashKernels.spanNearKernel(arr(toks), t, slop)
    })
  }

  test("fingerprintKernel == naive md5 polynomial fold") {
    val M = 1000000007L
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    // the documented construction: conv(substr(md5_hex,1,12),16,10)
    def naive(toks: List[String]): Long =
      toks.foldLeft(0L) { (acc, t) =>
        (acc * 31L + java.lang.Long.parseLong(md5hex(t).take(12), 16) % M) % M
      }
    check(Prop.forAll(doc) { toks =>
      HashKernels.fingerprintKernel(arr(toks)) == naive(toks)
    })
  }

  test("t-digest compress: weight conserved, means sorted and bounded") {
    import graft.agg.TDigest
    val values = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))
    check(Prop.forAll(values) { vs =>
      val m = vs.toArray
      val w = Array.fill(m.length)(1L)
      val (cm, cw) = TDigest.compress(m, w, m.length, 100.0)
      val conserved = cw.sum == m.length
      val sorted = cm.sorted.sameElements(cm)
      val bounded = cm.forall(c => c >= m.min - 1e-9 && c <= m.max + 1e-9)
      val compact = cm.length <= math.max(2, 110) // ~delta centroids max
      conserved && sorted && bounded && compact
    })
  }

  test("t-digest quantile: rank error within the published bound") {
    import graft.agg.TDigest
    // random mixed-scale data, n up to 5000: the mid-quantile rank of
    // the estimate must stay within 1.5% (the q_agg_percentiles probe
    // bound) after a single-pass build with delta=100
    val data = for {
      n <- Gen.chooseNum(200, 5000)
      skew <- Gen.oneOf(1.0, 2.0, 3.0)
    } yield (0 until n).map(i => math.pow(i.toDouble / n, skew) * 1000.0)
    check(Prop.forAll(data) { vs =>
      val agg = new TDigest.Agg(100.0, Seq(0.25, 0.5, 0.95))
      var buf = agg.zero
      vs.foreach { v => buf = agg.reduce(buf, v) }
      val est = agg.finish(buf)
      Seq(0.25, 0.5, 0.95).zip(est).forall { case (q, e) =>
        val rank = vs.count(_ <= e).toDouble / vs.size
        math.abs(rank - q) <= 0.015
      }
    })
  }

  test("ipInRangesKernel == dotted-quad arithmetic; octet digit runs past 3 throw") {
    val octet = Gen.choose(0, 255)
    val quad = Gen.listOfN(4, octet)
    // [value, value + 1): membership is exactly "the parsed value"
    def hit(ip: String, v: Long): Boolean = HashKernels.ipInRangesKernel(
      UTF8String.fromString(ip), Array(v), Array(1L))
    check(Prop.forAll(quad) { os =>
      val v = os.foldLeft(0L)((acc, o) => (acc << 8) + o)
      hit(os.mkString("."), v) && !hit(os.mkString("."), v + 1)
    })
    // a 4+ digit run is malformed, never a silently shifted value —
    // 19+ digits would also overflow the accumulator
    val long = for {
      os <- quad
      at <- Gen.choose(0, 3)
      run <- Gen.choose(4, 25).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString)
    } yield os.map(_.toString).updated(at, run).mkString(".")
    check(Prop.forAll(long) { ip =>
      Prop(intercept[IllegalArgumentException](hit(ip, 0L))
        .getMessage.startsWith("bad dotted-quad ip"))
    })
  }
}
