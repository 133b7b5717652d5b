package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{BandKeysExpr, Md5Hash64Expr, NfcNormalizeExpr, Param, SearchSortedExpr}

/** Property tests for the native expressions' scalar kernels against
  * independent straight-line references (the kernels are what both
  * eval and codegen call), and [[Param]] against `lit` in a session. */
class FunctionsSpec extends SparkSpec {

  /** Deterministic sampling from a Gen (no scalatest-scalacheck bridge
    * in the offline cache; fixed seed keeps runs reproducible). */
  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] = {
    var seed = Seed(7L)
    (0 until n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  private val vecGen: Gen[Array[Double]] = for {
    n <- Gen.choose(0, 16)
    xs <- Gen.listOfN(n, Gen.choose(-5.0, 5.0))
  } yield xs.toArray

  test("BandKeysExpr.compute matches a per-plane reference for random inputs") {
    val cases = samples(for {
      dim <- Gen.choose(1, 8)
      rpb <- Gen.choose(1, 5)
      bands <- Gen.choose(1, 4)
      v <- Gen.listOfN(dim, Gen.choose(-3.0, 3.0))
      planes <- Gen.listOfN(bands * rpb, Gen.listOfN(dim, Gen.choose(-1.0, 1.0)))
    } yield (dim, rpb, v.toArray, planes.map(_.toArray).toArray))
    assert(cases.nonEmpty)
    cases.foreach { case (dim, rpb, v, planes) =>
      val got = BandKeysExpr
        .compute(new GenericArrayData(v), planes.flatten, dim, rpb)
        .toIntArray().toSeq
      val want = planes.grouped(rpb).map { band =>
        band.zipWithIndex.map { case (pl, r) =>
          val dot = pl.zip(v).map { case (a, b) => a * b }.sum
          if (dot > 0) 1 << r else 0
        }.sum
      }.toSeq
      // reference dot folds pairwise like the kernel (same order, same
      // IEEE result — both are strict left folds over index order)
      assert(got == want, s"dim=$dim rpb=$rpb v=${v.toSeq} planes=${planes.map(_.toSeq).toSeq}")
    }
  }

  test("SearchSortedExpr.upperBound matches linear scan on sorted arrays") {
    val cases = samples(for {
      xs <- vecGen
      v <- Gen.choose(-6.0, 6.0)
    } yield (xs.sorted, v))
    cases.foreach { case (xs, v) =>
      val got = SearchSortedExpr.upperBound(new GenericArrayData(xs), v)
      val want = xs.indexWhere(_ > v) match { case -1 => xs.length; case i => i }
      assert(got == want, s"xs=${xs.toSeq} v=$v")
    }
  }

  test("BloomMightContainExpr: no false negatives over random keys") {
    val keys = samples(Gen.choose(Long.MinValue, Long.MaxValue), n = 500)
    val members = keys.take(250).distinct
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(members.length.toLong.max(1L), 0.01)
    members.foreach(bloom.putLong)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    val expr = graft.functions.BloomMightContainExpr.expr(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), out.toByteArray)
      .asInstanceOf[graft.functions.BloomMightContainExpr]
    // the deserialized-from-literal filter answers exactly like the
    // original: every member found, probes agree bit-for-bit
    keys.foreach { k =>
      assert(expr.probe(k) == bloom.mightContainLong(k))
    }
    assert(members.forall(expr.probe))
  }

  test("Md5Hash64Expr.hash equals the first 8 digest bytes, big-endian signed") {
    val cases = samples(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray), n = 100)
    cases.foreach { bytes =>
      val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val want = java.nio.ByteBuffer.wrap(digest).getLong
      assert(Md5Hash64Expr.hash(bytes) == want)
    }
  }

  test("NfcNormalizeExpr.normalize: composes, idempotent, identity on NFC input") {
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String): String =
      NfcNormalizeExpr.normalize(UTF8String.fromString(s)).toString
    assert(nfc("cafe\u0301") == "caf\u00e9")
    assert(nfc("u\u0308ber") == "\u00fcber")
    // idempotent; agrees with java.text.Normalizer on every case
    val cases = Seq("", "plain ascii", "caf\u00e9", "cafe\u0301",
      "a\u0325\u0301 stacked marks", "\u1e69")
    cases.foreach { s =>
      val once = nfc(s)
      assert(nfc(once) == once, s"not idempotent on $s")
      assert(once == java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.NFC))
    }
  }

  test("Log2FixedExpr.log2q: within 2^-16 + mantissa truncation of true log2; monotone") {
    val cases = samples(Gen.choose(1L, Long.MaxValue), n = 300) ++
      (1L to 64L) ++ Seq(Long.MaxValue, 1L << 62, (1L << 32) - 1, 1L << 32)
    cases.foreach { x =>
      val got = graft.functions.Log2FixedExpr.log2q(x) / 65536.0
      val want = math.log(x.toDouble) / math.log(2.0)
      // fraction truncation 2^-16 + 32-bit mantissa truncation ~2^-31
      assert(got <= want + 1e-9 && want - got < 3e-5,
        s"x=$x got=$got want=$want")
    }
    // exact at powers of two
    (0 until 63).foreach(e =>
      assert(graft.functions.Log2FixedExpr.log2q(1L << e) == e.toLong << 16))
    // monotone non-decreasing on sorted samples
    val sorted = cases.distinct.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(graft.functions.Log2FixedExpr.log2q(a) <=
        graft.functions.Log2FixedExpr.log2q(b))
    }
  }

  private def hash60Of(s: String): Long =
    Md5Hash64Expr.hash(s.getBytes("UTF-8")) >>> 4

  test("HllAgg.observe: rho matches the DuckDB bit_count((w & -w) - 1) + 1 formula") {
    val hashes = samples(Gen.choose(0L, (1L << 60) - 1), n = 500) ++
      Seq(0L, 1L, 63L, 64L, 128L, 192L, (1L << 60) - 1)
    hashes.foreach { h =>
      val buf = new Array[Byte](graft.functions.HllAgg.M)
      graft.functions.HllAgg.observe(buf, h)
      val w = h >>> graft.functions.HllAgg.P
      val rhoSql =
        if (w == 0L) graft.functions.HllAgg.RhoCap
        else math.min(
          java.lang.Long.bitCount((w & -w) - 1) + 1,
          graft.functions.HllAgg.RhoCap)
      assert(buf((h & (graft.functions.HllAgg.M - 1)).toInt) == rhoSql.toByte)
    }
  }

  test("HllAgg: merge of split streams equals single-pass observe (any split)") {
    val hashes = (0 until 5000).map(i => hash60Of(s"tok-$i"))
    val whole = new Array[Byte](graft.functions.HllAgg.M)
    hashes.foreach(graft.functions.HllAgg.observe(whole, _))
    val splits = samples(Gen.choose(1, hashes.size - 1), n = 20)
    splits.foreach { cut =>
      val a = new Array[Byte](graft.functions.HllAgg.M)
      val b = new Array[Byte](graft.functions.HllAgg.M)
      hashes.take(cut).foreach(graft.functions.HllAgg.observe(a, _))
      hashes.drop(cut).foreach(graft.functions.HllAgg.observe(b, _))
      val merged = a.zip(b).map { case (x, y) => math.max(x, y).toByte }
      assert(merged.sameElements(whole), s"split at $cut diverged")
    }
  }

  test("HllAgg.sketch: estimate within HLL error bounds at p = 6 and p = 12") {
    // distinct md5-derived hashes; true cardinality n = 100k. Standard
    // error is ~1.04/sqrt(m): 13% at m=64, 1.6% at m=4096 — assert 4x.
    val n = 100000
    def est(p: Int): Double =
      graft.functions.HllAgg.sketch(
        Iterator.range(0, n).map(i => hash60Of(s"item-$i")), p)
    val e6 = est(6)
    assert(math.abs(e6 - n) / n < 0.52, s"p=6 estimate $e6 off by >52%")
    val e12 = est(12)
    assert(math.abs(e12 - n) / n < 0.065, s"p=12 estimate $e12 off by >6.5%")
  }

  // ── PQ kernel expressions (interpreted eval on literal children) ──

  private def litArr(a: Array[Double]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      new GenericArrayData(a),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))

  private def litCbs(cbs: Array[Array[Array[Double]]]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      new GenericArrayData(cbs.map(book => new GenericArrayData(
        book.map(cen => new GenericArrayData(cen): Any)): Any)),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, false), false), false))

  private val pqGen = for {
    m <- Gen.choose(1, 4)
    subDim <- Gen.choose(1, 4)
    k <- Gen.choose(1, 5)
    emb <- Gen.listOfN(m * subDim, Gen.choose(-2.0, 2.0))
    cbs <- Gen.listOfN(m, Gen.listOfN(k, Gen.listOfN(subDim,
      Gen.choose(-2.0, 2.0))))
  } yield (m, subDim, k, emb.toArray,
    cbs.map(_.map(_.toArray).toArray).toArray)

  test("PqCodesExpr matches the argmax-of-2xc-minus-normsq reference; ties to lowest code") {
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    samples(pqGen, 200).foreach { case (m, subDim, k, emb, cbs) =>
      val got = graft.functions.PqCodesExpr(litArr(emb), litCbs(cbs))
        .eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
      val want = (0 until m).map { s =>
        val scores = cbs(s).map { cen =>
          val dot = (0 until subDim)
            .map(i => emb(s * subDim + i) * cen(i)).sum
          dot * 2.0 - cen.map(x => x * x).sum
        }
        scores.indexOf(scores.max) // first max = lowest code on ties
      }
      assert(got == want, s"m=$m subDim=$subDim k=$k")
    }
    // exact tie: identical centroids -> code 0 wins
    val tied = Array(Array(Array(1.0, 0.0), Array(1.0, 0.0)))
    val t = graft.functions.PqCodesExpr(litArr(Array(0.5, 0.5)), litCbs(tied))
      .eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(t.toIntArray().toSeq == Seq(0))
  }

  test("PqLutsExpr matches floor(dot*q + 0.5) per (subspace, code)") {
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    val q = 1048576.0
    samples(pqGen, 200).foreach { case (m, subDim, _, emb, cbs) =>
      val got = graft.functions.PqLutsExpr(litArr(emb), litCbs(cbs),
          org.apache.spark.sql.catalyst.expressions.Literal(q))
        .eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until m).foreach { s =>
        val lut = got.getArray(s)
        cbs(s).zipWithIndex.foreach { case (cen, c) =>
          val dot = (0 until subDim)
            .map(i => emb(s * subDim + i) * cen(i)).sum
          assert(lut.getLong(c) == math.floor(dot * q + 0.5).toLong,
            s"m=$m s=$s c=$c")
        }
      }
    }
  }

  test("PQ kernels: short embeddings truncate the dot, keep the full |c|^2") {
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    val cases = samples(for {
      m <- Gen.choose(1, 3)
      subDim <- Gen.choose(2, 4)
      k <- Gen.choose(1, 4)
      cut <- Gen.choose(0, m * subDim - 1) // emb strictly shorter
      emb <- Gen.listOfN(cut, Gen.choose(-2.0, 2.0))
      cbs <- Gen.listOfN(m, Gen.listOfN(k, Gen.listOfN(subDim,
        Gen.choose(-2.0, 2.0))))
    } yield (m, subDim, emb.toArray,
      cbs.map(_.map(_.toArray).toArray).toArray), 150)
    cases.foreach { case (m, subDim, emb, cbs) =>
      val codes = graft.functions.PqCodesExpr(litArr(emb), litCbs(cbs))
        .eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
      val wantCodes = (0 until m).map { s =>
        val scores = cbs(s).map { cen =>
          val lim = math.min(subDim, math.max(0, emb.length - s * subDim))
          val dot = (0 until lim)
            .map(i => emb(s * subDim + i) * cen(i)).sum
          dot * 2.0 - cen.map(x => x * x).sum
        }
        scores.indexOf(scores.max)
      }
      assert(codes == wantCodes, s"codes m=$m subDim=$subDim len=${emb.length}")
      val luts = graft.functions.PqLutsExpr(litArr(emb), litCbs(cbs),
          org.apache.spark.sql.catalyst.expressions.Literal(1048576.0))
        .eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until m).foreach { s =>
        cbs(s).zipWithIndex.foreach { case (cen, c) =>
          val lim = math.min(subDim, math.max(0, emb.length - s * subDim))
          val dot = (0 until lim)
            .map(i => emb(s * subDim + i) * cen(i)).sum
          assert(luts.getArray(s).getLong(c) ==
            math.floor(dot * 1048576.0 + 0.5).toLong,
            s"lut m=$m s=$s c=$c len=${emb.length}")
        }
      }
    }
  }

  test("AdcScore sums luts[s][codes[s]]; arity mismatch and bad codes are NULL") {
    val row = org.apache.spark.sql.catalyst.InternalRow.empty
    def codesLit(cs: Array[Int]) =
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        new GenericArrayData(cs),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, false))
    def lutsLit(ls: Array[Array[Long]]) =
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        new GenericArrayData(ls.map(l => new GenericArrayData(l): Any)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, false), false))
    val luts = Array(Array(10L, 20L, 30L), Array(100L, 200L, 300L))
    def adc(cs: Array[Int], ls: Array[Array[Long]]) =
      graft.functions.AdcScore(codesLit(cs), lutsLit(ls)).eval(row)
    assert(adc(Array(1, 2), luts) == 320L)
    assert(adc(Array(0, 0), luts) == 110L)
    // m mismatch: encoded under a different model -> NULL, not a
    // partial sum
    assert(adc(Array(1), luts) == null)
    assert(adc(Array(1, 2, 0), luts) == null)
    // out-of-range code -> NULL
    assert(adc(Array(1, 3), luts) == null)
    assert(adc(Array(-1, 0), luts) == null)
  }

  /** Per type: a column of values, and constants to bind against it. */
  private def paramCases: Seq[(String, DataFrame, Seq[Any])] = {
    import spark.implicits._
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.25, Double.MinPositiveValue)
    val dates = Seq("1970-01-01", "2024-02-29", "1899-12-31").map(Date.valueOf)
    val stamps = Seq("1970-01-01 00:00:00", "2024-02-29 12:34:56.789",
      "1899-12-31 23:59:59.000001").map(Timestamp.valueOf)
    Seq(
      ("int", Seq(Int.MinValue, -1, 0, 7, Int.MaxValue).toDF("x"), Seq(Int.MinValue, 0, 7, Int.MaxValue)),
      ("long", Seq(Long.MinValue, -1L, 0L, 7L, Long.MaxValue).toDF("x"), Seq(Long.MinValue, 0L, 7L, Long.MaxValue)),
      ("double", doubles.toDF("x"), doubles),
      ("date", dates.toDF("x"), dates),
      ("timestamp", stamps.toDF("x"), stamps))
  }

  /** Rows with doubles by their bits, so -0.0 and 0.0 differ. */
  private def bits(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.map {
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  private def paramQueries(df: DataFrame, c: Column): Seq[DataFrame] = Seq(
    df.filter(col("x") < c),
    df.filter(col("x") === c || col("x") > c),
    df.select(col("x"), c.as("p"), (col("x") <=> c).as("eq")))

  test("Param: filters and projections equal lit for Int, Long, Double, Date, Timestamp, with and without whole-stage codegen") {
    Param.register(spark)
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.getOption(key)
    try Seq("true", "false").foreach { wholeStage =>
      spark.conf.set(key, wholeStage)
      for ((name, df, values) <- paramCases; v <- values) {
        paramQueries(df, Param.of(v)).zip(paramQueries(df, lit(v))).foreach { case (p, l) =>
          assert(bits(p.collect()) == bits(l.collect()), s"$name $v wholeStage=$wholeStage")
        }
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Param survives optimization and two values share one generated body") {
    Param.register(spark)
    def plan(v: Double) = spark.range(0, 100, 1, 2).toDF("x")
      .filter(col("x") * 2 < Param.of(v) + 1)
    val optimized = plan(3.0).queryExecution.optimizedPlan
    // ConstantFolding would have folded `3.0 + 1` to a literal
    assert(optimized.exists(_.expressions.exists(_.exists {
      case p: Param => p.value == 3.0; case _ => false })), optimized)
    def bodies(v: Double) = plan(v).queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }
    assert(bodies(3.0).nonEmpty && bodies(3.0) == bodies(41.5))
    assert(plan(41.5).count() == 22L) // 2x < 42.5 for x in 0..21
  }

  test("Param refuses null: Param.of and graft_param(NULL) both throw") {
    Param.register(spark)
    assert(intercept[IllegalArgumentException](Param.of(null)).getMessage
      .contains(Param.NullRefused))
    val e = intercept[Exception](spark.sql("SELECT graft_param(NULL) AS p").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(Param.NullRefused)), e)
  }
}
