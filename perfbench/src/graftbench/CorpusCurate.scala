package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.{Curation, TextDedup, TextStats}
import graft.table.Versioned

/** A seeded document corpus in shards: marker-word languages (en, es,
  * fr, de, zh), planted near-duplicate clusters and exact copies,
  * low-quality punctuation noise and repetitive boilerplate.
  */
final class Corpus(seed: Long) {
  import Corpus._

  /** (doc_id, text) of shard `s`. */
  def shard(s: Int): Seq[(Long, String)] = {
    val r = new Random(seed * 104729L + s)
    val docs = mutable.ArrayBuffer[(Long, String)]()
    var id = s.toLong * 1000000L
    def add(text: String): Unit = { docs += (id -> text); id += 1 }
    while (docs.size < DocsPerShard) {
      r.nextInt(20) match {
        case 0 => add(noise(r))
        case 1 => add(boilerplate(r))
        case 2 | 3 =>
          // near-duplicate cluster: a base and 1-5 lightly edited copies
          val base = doc(r, "en")
          add(base.mkString(" "))
          (0 until 1 + r.nextInt(5)).foreach { _ =>
            val edited = base.toArray
            (0 until r.nextInt(4)).foreach(_ => edited(r.nextInt(edited.length)) = word(r))
            add(edited.mkString(" "))
          }
        case 4 => add(doc(r, Langs(r.nextInt(Langs.size))).mkString(" "))
        case _ => add(doc(r, "en").mkString(" "))
      }
    }
    docs.take(DocsPerShard).toSeq
  }

  private def word(r: Random): String =
    (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
  private def doc(r: Random, lang: String): Seq[String] = {
    val markers = Text.LangMarkers.toMap.apply(lang)
    (0 until 40 + r.nextInt(60)).map(_ =>
      if (r.nextInt(5) == 0) markers(r.nextInt(markers.size)) else word(r))
  }
  private def noise(r: Random): String =
    (0 until 5 + r.nextInt(20)).map(_ => Seq("!!", "@#", "$$", "%^&", "the")(r.nextInt(5))).mkString(" ")
  private def boilerplate(r: Random): String = {
    val a = word(r)
    val b = word(r)
    (Seq("the", "of") ++ Seq.fill(30 + r.nextInt(20))(s"$a $b")).mkString(" ")
  }
}

object Corpus {
  val Shards = 4
  val DocsPerShard = 1200
  val Langs: Seq[String] = Seq("es", "fr", "de", "zh")
  val Syllables: Seq[String] = Seq("ka", "lo", "mi", "ten", "ra", "vo", "shi", "pel", "dun", "gri",
    "ol", "ne", "ba", "tor", "quim", "zu", "fa", "rex", "lin", "po", "sar", "wek", "jo", "hum")

  private val Punct = java.util.regex.Pattern.compile("[^a-zA-Z0-9\\s]")

  private def tokens(t: String): Array[String] = t.trim.split("\\s+", -1)
  private def cps(s: String): Int = s.codePointCount(0, s.length)

  /** `Text.langId`, recomputed: marker overlap argmax, list order breaks ties. */
  def langId(t: String): String = {
    val toks = tokens(t.toLowerCase).toSet
    val scores = Text.LangMarkers.map { case (l, ws) => l -> ws.count(toks.contains) }
    val best = scores.map(_._2).max
    scores.find { case (_, s) => s == best && s > 0 }.map(_._1).getOrElse("und")
  }

  /** `Text.qualityScore`, recomputed with the same double arithmetic. */
  def quality(t: String): Double = {
    val toks = tokens(t)
    val n = toks.length.toDouble
    val uniq = toks.distinct.length.toDouble / n
    val punct = (cps(t) - cps(Punct.matcher(t).replaceAll(""))).toDouble
    0.4 * math.min(1.0, n / 20.0) + 0.4 * uniq + 0.2 * (1.0 - punct / cps(t).toDouble)
  }

  def shingles(t: String, k: Int): Set[String] = {
    val toks = tokens(t)
    if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSet else Set(toks.mkString(" "))
  }

  /** `TextStats.repetitionScore`, recomputed. */
  def repetition(t: String): Double = {
    val n = tokens(t).length
    if (n >= 2) 1.0 - shingles(t, 2).size.toDouble / (n - 1).toDouble else 0.0
  }

  /** The curated result of `docs` under the default thresholds, as
    * (doc_id, lang_pred, score, repetition) rows, plus the kept count
    * and near-duplicate pair count.
    */
  def curate(docs: Seq[(Long, String)]): (Seq[Seq[Any]], Int, Int) = {
    val th = Curation.Thresholds()
    val kept = docs.map { case (id, t) => (id, t, langId(t), quality(t), repetition(t)) }
      .filter { case (_, _, l, q, rep) => l == th.lang && q >= th.minQuality && rep <= th.maxRepetition }
    val sh = kept.map { case (id, t, _, _, _) => id -> shingles(t, th.shingleK) }.toMap
    val index = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    sh.foreach { case (id, ss) => ss.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer()) += id) }
    val parent = mutable.Map[Long, Long]() ++ kept.map(k => k._1 -> k._1)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val root = find(p); parent(x) = root; root } }
    val cands = index.valuesIterator.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    var pairs = 0
    cands.foreach { case (a, b) =>
      val c = sh(a).count(sh(b).contains)
      if (c.toDouble / (sh(a).size + sh(b).size - c).toDouble >= th.jaccard) {
        pairs += 1
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val reps = kept.filter { case (id, _, _, _, _) => find(id) == id }
      .map { case (id, _, l, q, rep) => Seq[Any](id, l, q, rep) }
    (reps, kept.size, pairs)
  }

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("shard", IntegerType), StructField("text", StringType)))
}

/** One op = one `Curation.curate` over a seeded corpus shard read from
  * its versioned table, forced to its result. The traced run stages the
  * same pipeline (scoring, candidate pairs, connected components) so
  * each operator is timed on its own. Every answer is checked against
  * the kept set and cluster representatives recomputed in plain Scala.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private var dir: String = _
  private var expected: Map[Int, (Fp, Int)] = Map.empty
  private var bytes = 0L

  def tableRoots: Seq[String] = Seq(dir)
  def userBytes: Long = bytes
  override def warmOps: Int = 1

  def setup(d: String): Unit = {
    dir = s"$d/docs"
    val spark = ctx.spark
    val corpus = new Corpus(ctx.seed)
    bytes = 0L
    expected = (0 until Corpus.Shards).map { s =>
      val docs = corpus.shard(s)
      bytes += docs.map { case (_, t) => 12L + t.getBytes("UTF-8").length }.sum
      val rows = docs.map { case (id, t) => Row(id, s, t) }
      Versioned.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Corpus.Schema), dir)
      val (reps, _, _) = Corpus.curate(docs)
      s -> (Fp.ofRows(reps), docs.size)
    }.toMap
  }

  def op(i: Int): OpOut = {
    val spark = ctx.spark
    // shards in order, each twice in a row after the one warm-up op
    // (a traced run's op pair starts at op 1)
    val s = ((i + 1) / 2) % Corpus.Shards
    val docs = Versioned.read(spark, dir).filter(col("shard") === s).select("doc_id", "text")
    val (want, n) = expected(s)
    val result =
      if (!ctx.tracer.on) Curation.curate(docs, "doc_id", "text").collect()
      else staged(docs, n)
    OpOut("curate", n.toLong, () => {
      val got = Fp.ofRows(result.map(r => Seq[Any](r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))))
      if (i < 8) Console.err.println(s"[perfbench] op $i shard $s curated fp $got")
      if (got == want) None else Some(s"shard $s: curated fingerprint $got, expected $want")
    })
  }

  /** `Curation.curate`'s stages, each forced inside its own span. */
  private def staged(docs: DataFrame, n: Int): Array[Row] = {
    val th = Curation.Thresholds()
    val kept = ctx.span("operators.score") {
      val slots = docs.sparkSession.sparkContext.defaultParallelism
      val base = if (docs.rdd.getNumPartitions < slots) docs.repartition(slots).localCheckpoint() else docs
      val k = base.select(col("doc_id"), col("text"),
          Text.langId(col("text")).as("lang_pred"),
          Text.qualityScore(col("text")).as("score"),
          TextStats.repetitionScore(col("text")).as("repetition"))
        .filter(col("lang_pred") === th.lang && col("score") >= th.minQuality &&
          col("repetition") <= th.maxRepetition)
        .localCheckpoint()
      ctx.add("docs", n.toLong)
      ctx.add("kept", k.count())
      k
    }
    val pairs = ctx.span("operators.pairs") {
      val p = TextDedup.ngramJaccardPairsCapped(kept.select("doc_id", "text"), "doc_id", "text",
        th.shingleK, th.jaccard, th.maxShingleFreq).localCheckpoint()
      ctx.add("pairs", p.count())
      p
    }
    val comps = ctx.span("operators.components") {
      val c = TextDedup.connectedComponents(kept, "doc_id", pairs).localCheckpoint()
      c.count()
      c
    }
    kept.join(comps, Seq("doc_id")).filter(col("doc_id") === col("component"))
      .select(col("doc_id"), col("lang_pred"), col("score"), col("repetition")).collect()
  }
}
