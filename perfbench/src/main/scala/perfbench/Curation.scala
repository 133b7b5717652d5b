package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.llm.Curation

/** A curation corpus with known answers: base documents that pass the
  * quality gate's documented thresholds, planted exact copies, planted
  * near copies (5-shingle Jaccard at least 0.6 to their base and 0.5 to
  * each other), and planted gate failures (too short, or one phrase
  * repeated). Ids are a random permutation, so a group's survivor is
  * whichever member drew the smallest id. */
object Corpus {
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  final case class Doc(id: Long, text: String, group: Int, passes: Boolean)

  def shingles(text: String, k: Int = 5): Set[String] =
    text.split(" ").sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def bp(num: Double, den: Double): Long = math.floor(10000.0 * num / den + 0.5).toLong

  /** The quality gate's default thresholds, applied to one document. */
  def passesGate(text: String): Boolean = {
    val toks = text.trim.split(" ", -1).toSeq
    val n = toks.length
    val grams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val counts = grams.groupMapReduce(identity)(_ => 1)(_ + _)
    val dupOcc = counts.values.filter(_ > 1).sum
    val meanLenC = math.floor(100.0 * (text.length - (n - 1)) / n + 0.5).toLong
    n >= 20 && n <= 1000 && meanLenC >= 300 && meanLenC <= 700 &&
      bp(toks.distinct.size, n) >= 3000 &&
      (grams.isEmpty || bp(dupOcc, grams.size) <= 2000) &&
      bp(toks.count(t => Stopwords.contains(t.toLowerCase)), n) >= 100
  }

  def generate(seed: Long, bases: Int): IndexedSeq[Doc] = {
    val rnd = new Rng(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Iterator.continually((0 until 3 + rnd.nextInt(6))
        .map(_ => letters.charAt(rnd.nextInt(26))).mkString)
      .filterNot(Stopwords.contains).distinct.take(4000).toVector
    def word() = if (rnd.nextInt(8) == 0) Stopwords(rnd.nextInt(Stopwords.size))
                 else vocab(rnd.nextInt(vocab.size))
    def base(): String = {
      var t = ""
      while (t.isEmpty || !passesGate(t))
        t = Seq.fill(60 + rnd.nextInt(80))(word()).mkString(" ")
      t
    }
    def near(b: String): String = {
      val toks = b.split(" ")
      (0 until 1 + rnd.nextInt(2)).foreach(_ => toks(3 + rnd.nextInt(toks.length - 6)) = vocab(rnd.nextInt(vocab.size)))
      toks.mkString(" ")
    }
    val texts = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    (0 until bases).foreach { g =>
      val b = base()
      texts += ((b, g, true))
      if (rnd.nextInt(10) == 0) texts += ((b, g, true))
      if (rnd.nextInt(6) == 0) {
        var copies = Seq.empty[String]
        while (copies.isEmpty || copies.exists(c => c == b || jaccard(b, c) < 0.6) ||
               (copies.length == 2 && jaccard(copies(0), copies(1)) < 0.5))
          copies = Seq.fill(1 + rnd.nextInt(2))(near(b))
        copies.foreach(c => texts += ((c, g, true)))
      }
    }
    (0 until bases / 20).foreach { i =>
      val g = bases + i
      val phrase = Seq.fill(6)(word()).mkString(" ")
      val t = if (i % 2 == 0) Seq.fill(8 + rnd.nextInt(8))(word()).mkString(" ")
              else Seq.fill(10)(phrase).mkString(" ")
      require(!passesGate(t), "a planted gate failure passes the gate")
      texts += ((t, g, false))
    }
    val ids = rnd.shuffle((1L to texts.size.toLong).toVector)
    texts.zip(ids).map { case ((t, g, ok), id) => Doc(id, t, g, ok) }.toIndexedSeq.sortBy(_.id)
  }
}

/** The curation step of the `lake-churn` workload: a planted corpus, its
  * expected survivors by construction, and the near-dup pipeline (default
  * n-gram pair source) run and checked as one operation. Building an
  * instance generates the corpus and materializes its DataFrame. */
final class CurationPass(spark: SparkSession, seed: Long, rec: Recorder) {
  val Bases = 300
  val Shards = 8

  import spark.implicits._
  val docs: IndexedSeq[Corpus.Doc] = Corpus.generate(seed, Bases)
  private val df = docs.map(d => (d.id, d.text)).toDF("id", "text")
  df.count()

  // expected answers, by construction
  private val byId = docs.map(d => d.id -> d).toMap
  private val exactSurv = docs.filter(_.passes).groupBy(_.text).values.map(_.map(_.id).min).toSet
  private val groupMin = exactSurv.toSeq.groupBy(id => byId(id).group).values.map(_.min).toSet
  private val nearCopies = exactSurv -- groupMin
  private lazy val md5 = docs.map(d => d.id -> md5Hex(d.text)).toMap

  def summary: String =
    s"corpus docs=${docs.size} exact_survivors=${exactSurv.size} neardup_survivors=${groupMin.size}"

  private def checkRows(rows: Array[Row], want: Long => Boolean, what: String): Option[String] = {
    val ids = rows.map(_.getLong(0))
    val byShard = rows.groupBy(_.getLong(3))
    if (ids.distinct.length != ids.length) Some(s"$what: duplicate ids")
    else if (!ids.forall(want)) Some(s"$what: unexpected survivor ${ids.find(!want(_)).get}")
    else if (rows.exists(r => r.getString(1) != md5(r.getLong(0)))) Some(s"$what: clean_md5 differs from md5 of the text")
    else if (!byShard.keys.forall(s => s >= 0 && s < Shards) ||
             byShard.values.exists(rs => rs.map(_.getLong(4)).sorted.toSeq != (0L until rs.length.toLong)))
      Some(s"$what: shard/pos is not a permutation")
    else None
  }

  /** One `pipelineNearDup` run over the corpus, collected and checked. */
  def nearDup(): Unit =
    rec.op("neardup")(Curation.pipelineNearDup(df, "text", "id", Shards).collect()) { rows =>
      checkRows(rows, groupMin, "pipelineNearDup").orElse(
        if (rows.length == groupMin.size) None
        else Some(s"pipelineNearDup: ${rows.length} survivors, want ${groupMin.size}"))
    }

  /** The per-layer figures of the timed `neardup` operations, plus two
    * made after the timed phase: the pairs the default pair source emits
    * over the exact survivors, and the recall of one checked run with the
    * MinHash-LSH pair source. */
  def layers(tr: Tracer): Map[String, Double] = {
    var lshDropped = Set.empty[Long]
    rec.op("neardup_lsh")(Curation.pipelineNearDup(df, "text", "id", Shards,
        pairSource = Curation.lshPairSource()).collect()) { rows =>
      // LSH may miss planted pairs; every pair it collapses must be real
      val kept = rows.map(_.getLong(0)).toSet
      lshDropped = exactSurv -- kept
      checkRows(rows, exactSurv, "pipelineNearDup/lsh").orElse {
        val unfounded = lshDropped.filterNot { id =>
          val g = byId(id).group
          nearCopies(id) && groupMin.exists(m => byId(m).group == g &&
            Corpus.jaccard(byId(m).text, byId(id).text) >= 0.5)
        }
        if (unfounded.isEmpty && groupMin.subsetOf(kept)) None
        else Some(s"pipelineNearDup/lsh: collapsed ${unfounded.size} documents without a planted match")
      }
    }
    val exactDf = docs.filter(d => exactSurv(d.id)).map(d => (d.id, d.text)).toDF("id", "text")
    val pairs = Curation.defaultPairSource()(exactDf, "text", "id").count()
    tr.drain()
    def phase(p: String) = tr.perOp("neardup")(s => tr.jobUnionMs(s, _ == s"neardup:$p"))
    Map(
      "curation.clean_ms" -> phase("clean-ckpt"),
      "curation.gate_ms" -> phase("gate+kept-ckpt"),
      "curation.pairs_ms" -> phase("pairs"),
      "curation.cc_ms" -> phase("cc"),
      "curation.unlabeled_ms" -> tr.perOp("neardup")(s =>
        tr.jobUnionMs(s, d => d == null || !d.startsWith("neardup:"))),
      "dedup.pairs" -> pairs.toDouble,
      "dedup.lsh_recall" -> (if (nearCopies.isEmpty) 1.0 else lshDropped.size.toDouble / nearCopies.size))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}
