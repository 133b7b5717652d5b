package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** End-to-end check of the cluster deployment surface: a session built
  * with [[GraftExtensions]] answers pure SQL over every graft native
  * function, with no programmatic `register` call.
  *
  * The class is instantiated REFLECTIVELY (no-arg constructor, cast to
  * `SparkSessionExtensions => Unit`) — exactly the contract
  * `spark.sql.extensions=graft.GraftExtensions` relies on; the conf
  * path itself only takes effect at SparkContext creation, which a
  * shared-context test suite cannot exercise, so reflective
  * construction + `withExtensions` covers the same code path Spark's
  * `applyExtensions` runs. The suite session's SparkContext is reused
  * (never stopped); active/default sessions are restored afterwards. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions exposes every native function to pure SQL") {
    spark.sparkContext // force the shared context up front
    val ext = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(ext)
      .getOrCreate()
    try {
      assert(s2 ne spark, "expected a fresh session over the shared context")
      val r = s2.sql(
        """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
          |  graft_md5_hash64(cast('abc' AS binary)) AS h,
          |  graft_search_sorted(array(1.0D, 5.0D, 9.0D), 5.0D) AS idx
          |""".stripMargin).head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) ==
        graft.functions.Md5Hash64Expr.hash("abc".getBytes("UTF-8")))
      assert(r.getInt(2) == 2) // first index with arr(i) > 5.0
      // simhash of {1, 3, 2}: bit0 votes +1, bit1 votes +1, rest −3 → 3
      val sim = s2.sql(
        "SELECT graft_simhash_agg(h) AS s FROM VALUES (1L), (3L), (2L) AS t(h)")
        .head().getLong(0)
      assert(sim == 3L)
      // md5 lanes of 'abc': four unsigned-32 big-endian digest lanes
      val lanes = s2.sql(
        "SELECT graft_md5_lanes(cast('abc' AS binary)) AS l")
        .head().getSeq[Long](0)
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest("abc".getBytes("UTF-8"))
      val want = (0 until 4).map(i =>
        ((d(4 * i) & 0xFFL) << 24) | ((d(4 * i + 1) & 0xFFL) << 16) |
          ((d(4 * i + 2) & 0xFFL) << 8) | (d(4 * i + 3) & 0xFFL))
      assert(lanes == want)
      // band keys of v=(1,-1) vs planes (1,0) [dot 1 > 0 → bit0] and
      // (0,1) [dot −1 → clear]: one 2-plane band → [1]
      val bk = s2.sql(
        """SELECT graft_band_keys(array(1.0D, -1.0D),
          |  array(array(1.0D, 0.0D), array(0.0D, 1.0D)), 2) AS k
          |""".stripMargin).head().getSeq[Int](0)
      assert(bk == Seq(1))
      // bloom might-contain: a 1-element filter finds its member
      val bf = org.apache.spark.util.sketch.BloomFilter.create(1L, 0.01)
      bf.putLong(42L)
      val bytes = new java.io.ByteArrayOutputStream()
      bf.writeTo(bytes)
      val hex = bytes.toByteArray.map("%02X".format(_)).mkString
      val bl = s2.sql(
        s"SELECT graft_bloom_might_contain(42L, x'$hex') AS m")
        .head().getBoolean(0)
      assert(bl)
      // hll registers of {64, 128}: both land in bucket 0 (low 6 bits
      // clear) with widths 1 and 2 → rho 1 then 2, max = 2; rest 0
      val hll = s2.sql(
        "SELECT graft_hll_agg(h) AS r FROM VALUES (64L), (128L) AS t(h)")
        .head().getSeq[Int](0)
      assert(hll.head == 2 && hll.tail.forall(_ == 0) && hll.size == 64)
      // decomposed e + U+0301 combining acute (Spark SQL `char` wraps
      // mod 256, so embed the codepoint via the Scala escape)
      val nfc = s2.sql(
        "SELECT graft_nfc_normalize('cafe\u0301') AS s")
        .head().getString(0)
      assert(nfc == "caf\u00e9" && nfc.length == 4)
      // log2_fixed: exact at powers of two, 16 fraction bits otherwise
      val lg = s2.sql(
        "SELECT graft_log2_fixed(1024L) AS a, graft_log2_fixed(3L) AS b")
        .head()
      assert(lg.getLong(0) == 10L << 16)
      assert(lg.getLong(1) == graft.functions.Log2FixedExpr.log2q(3L))
      // adc score: luts[0][code0] + luts[1][code1] = 20 + 300
      val adc = s2.sql(
        """SELECT graft_adc(array(1, 2),
          |  array(array(10L, 20L, 30L), array(100L, 200L, 300L))) AS s
          |""".stripMargin).head().getLong(0)
      assert(adc == 320L)
      // pq codes: one subspace, centroids (1,0) vs (0,1) — the vector
      // (2,0) is nearest the first centroid (code 0)
      val pqc = s2.sql(
        """SELECT graft_pq_codes(array(2.0D, 0.0D),
          |  array(array(array(1.0D, 0.0D), array(0.0D, 1.0D)))) AS c
          |""".stripMargin).head().getSeq[Int](0)
      assert(pqc == Seq(0))
      // pq luts: dot((2,0),(1,0))*10 = 20, dot((2,0),(0,1))*10 = 0
      val pql = s2.sql(
        """SELECT graft_pq_luts(array(2.0D, 0.0D),
          |  array(array(array(1.0D, 0.0D), array(0.0D, 1.0D))),
          |  10.0D) AS l
          |""".stripMargin).head().getSeq[Seq[Long]](0)
      assert(pql == Seq(Seq(20L, 0L)))
      // param: a bound constant, used like the literal it wraps
      val par = s2.sql(
        "SELECT graft_param(5.5D) + 1 AS p, graft_param(DATE'2024-02-29') AS d")
        .head()
      assert(par.getDouble(0) == 6.5)
      assert(par.getDate(1) == java.sql.Date.valueOf("2024-02-29"))
      // the lake maintenance/history TVFs ride the same injection
      // (injectTableFunction): a conf-deployed session resolves them
      // without any programmatic register call
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      Seq("table_history", "table_changes", "graft_snapshot",
        "graft_compact", "graft_cluster_compact", "graft_vacuum",
        "graft_detail").foreach { fn =>
        assert(s2.sessionState.tableFunctionRegistry
          .functionExists(FunctionIdentifier(fn)),
          s"TVF $fn not injected by GraftExtensions")
      }
      // and end-to-end through the injected path: a catalog +
      // lifecycle on s2, read back via the TVF with no register call
      val tvRoot = java.nio.file.Files
        .createTempDirectory("ext-tvf").toString
      s2.conf.set("spark.sql.catalog.ext_lake",
        classOf[graft.sources.LakeCatalog].getName)
      s2.conf.set("spark.sql.catalog.ext_lake.root", tvRoot)
      s2.sql("CREATE TABLE ext_lake.t (chain_name STRING, k BIGINT)")
      s2.sql("INSERT INTO ext_lake.t VALUES ('ethereum', 1)")
      val hist = s2.sql("SELECT * FROM table_history('ext_lake.t')")
        .collect()
      assert(hist.length == 2 && hist.map(_.getString(2)).toSeq ==
        Seq("create", "append"), hist.mkString(", "))
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
