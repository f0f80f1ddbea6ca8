package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity, TextAnalysis}

import Checks.diff

/** LLM-data curation over a generated corpus: MinHash-LSH dedup into
  * connected components, the exact prefix-filtered similarity join, the
  * linear quality classifier, and IVF-PQ nearest-neighbour probes.
  *
  * Chosen because it is the only workload that loads the `functions`
  * codegen expressions and iterative shuffles (connected components), and
  * it does no lake metadata work: a driver-metadata change predicts no
  * change here.
  *
  * The corpus plants near-duplicate clusters (copies of a document with a
  * few tokens replaced); checks recompute Jaccard by brute force on the
  * driver, rebuild the components with union-find, recompute the quality
  * decision from its published weights, and rank exact top-k by dot
  * product for the ANN recall. */
final class CurationWorkload(seed: Long) extends Workload {
  import CurationWorkload._

  val name = "llm_curation"

  private var spark: SparkSession = _
  private var dir: String = _
  private def out(name: String) = s"$dir/out/$name"

  private var texts: Vector[String] = Vector.empty
  private var vectors: Vector[Array[Float]] = Vector.empty
  private var probeIds: Seq[Long] = Nil
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var inputBytes = 0L
  /** Results that are a pure function of the inputs, kept from the first
    * checked run so later cycles compare exactly instead of recomputing. */
  private val firstResults = mutable.HashMap.empty[String, Any]

  // ---- generator ---------------------------------------------------------

  private def genTexts(rnd: java.util.SplittableRandom): Vector[String] = {
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "gu", "zo")
    val vocab = (0 until VocabSize).map { i =>
      val n = 2 + (i % 3)
      (0 until n).map(j => syll((i * 7 + j * 5 + i / 12) % syll.size)).mkString + (i % 97).toString
    }
    val stop = TextAnalysis.langMarkers.head._2
    val out = mutable.ArrayBuffer.empty[String]
    val originals = mutable.ArrayBuffer.empty[Int]
    while (out.size < Docs) {
      if (originals.nonEmpty && rnd.nextDouble() < DupShare) {
        // a near-copy of an earlier original: a few tokens replaced, so
        // clusters are stars around their original
        val toks = out(originals(rnd.nextInt(originals.size))).split(" ").clone()
        (0 until 1 + rnd.nextInt(3)).foreach(_ => toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(VocabSize)))
        out += toks.mkString(" ")
      } else {
        originals += out.size
        val n = 30 + rnd.nextInt(50)
        val stopShare = rnd.nextDouble() * 0.5
        val punctShare = rnd.nextDouble() * 0.3
        out += (0 until n).map { _ =>
          val w = if (rnd.nextDouble() < stopShare) stop(rnd.nextInt(stop.size)) else vocab(rnd.nextInt(VocabSize))
          if (rnd.nextDouble() < punctShare) w + Punct(rnd.nextInt(Punct.size)) else w
        }.mkString(" ")
      }
    }
    out.toVector
  }

  private def genVectors(rnd: java.util.SplittableRandom): Vector[Array[Float]] = {
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def gauss(): Double = {
      val u = 1.0 - rnd.nextDouble(); val w = rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w)
    }
    val centers = Vector.fill(Clusters)(unit(Array.fill(Dim)(gauss())))
    Vector.fill(Vectors) {
      val c = centers(rnd.nextInt(Clusters))
      unit(c.map(_ + 0.35 * gauss() / math.sqrt(Dim))).map(_.toFloat)
    }
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    firstResults.clear()
    val rnd = new java.util.SplittableRandom(seed)
    texts = genTexts(rnd)
    vectors = genVectors(rnd)
    probeIds = rnd.ints(0, Vectors).distinct().limit(Probes).toArray.toSeq.map(_.toLong).sorted
    spark.createDataFrame(java.util.Arrays.asList(texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(i % Langs.size), s"src${i % 7}") }: _*), DocSchema)
      .repartition(4).write.parquet(s"$dir/documents")
    spark.createDataFrame(java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq, i % Clusters) }: _*), EmbSchema)
      .repartition(4).write.parquet(s"$dir/embeddings")
    inputBytes = Disk.bytes(new File(s"$dir/documents"))
    docs = spark.read.parquet(s"$dir/documents")
    emb = spark.read.parquet(s"$dir/embeddings")
  }

  def inputDigest: String = Digest.sha256(texts.iterator.map(Digest.utf8) ++
    vectors.iterator.map(v => Digest.utf8(v.mkString(","))) ++ Iterator(Digest.utf8(probeIds.mkString(","))))


  def sizes: Map[String, Double] = Map(
    "documents" -> Docs.toDouble, "embeddings" -> Vectors.toDouble, "dim" -> Dim.toDouble,
    "probes" -> Probes.toDouble, "input_bytes" -> inputBytes.toDouble)

  // ---- driver-side reference computations --------------------------------

  private lazy val shingleSets: Vector[Set[String]] = texts.map { t =>
    t.toLowerCase.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingleSets(a.toInt), shingleSets(b.toInt))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }

  private def round4(d: Double): Double = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The quality decision recomputed from the classifier's weights. None
    * where the logit is too close to 0 to call. */
  private def keepDecision(t: String): Option[Boolean] = {
    val toks = t.toLowerCase.split("\\s+")
    val n = toks.length.toDouble
    val len = t.length.toDouble
    val punct = t.count(c => !(c.isLetterOrDigit || c.isWhitespace)).toDouble
    val digits = t.count(_.isDigit).toDouble
    val stop = toks.count(TextAnalysis.langMarkers.head._2.contains).toDouble
    val feats = Seq(stop / n, punct / len, digits / len, toks.map(_.length).sum / n / 10.0,
      math.min(n / 100.0, 1.0))
    val logit = feats.zip(TextAnalysis.qualityClassifierWeights)
      .foldLeft(TextAnalysis.qualityClassifierBias) { case (acc, (f, w)) => acc + f * w }
    if (math.abs(logit) < 1e-9) None else Some(logit > 0)
  }

  /** Components of the edge list by union-find; each node labelled with
    * the smallest id in its component. */
  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def exactTopK(probe: Long, k: Int): Seq[Long] = {
    val p = vectors(probe.toInt)
    vectors.indices.filter(_ != probe.toInt).map { i =>
      val v = vectors(i)
      var s = 0.0
      var j = 0
      while (j < Dim) { s += p(j).toDouble * v(j).toDouble; j += 1 }
      (i.toLong, s)
    }.sortBy(x => (-x._2, x._1)).take(k).map(_._1)
  }

  private def once[T](key: String)(compute: => T): T =
    firstResults.getOrElseUpdate(key, compute).asInstanceOf[T]

  // ---- the operation cycle -------------------------------------------------

  private def dedup(ctx: OpCtx): Seq[String] = {
    val (cands, edges, labels, kept) = ctx.timed {
      val sh = ctx.call("ext.shingles") {
        val s = Dedup.shingles(docs, "doc_id", "text", 3).persist(); s.count(); s
      }
      val sig = ctx.call("ext.minhash") {
        val s = Dedup.minhashSignature(sh, "doc_id", fast = true).persist(); s.count(); s
      }
      val cand = ctx.call("ext.lsh") {
        val c = Dedup.minhashCandidates(sig, "doc_id").persist(); c.count(); c
      }
      val verified = ctx.call("ext.verify")(Dedup.jaccardOnCandidates(sh, cand, "doc_id")
        .filter(col("jaccard") >= Tau).collect())
      val edgeDf = spark.createDataFrame(java.util.Arrays.asList(verified: _*), verified.headOption
        .map(_.schema).getOrElse(StructType(Seq(StructField("doc_id_a", LongType),
          StructField("doc_id_b", LongType), StructField("jaccard", DoubleType)))))
      val cc = ctx.call("ext.cc")(Dedup.connectedComponents(edgeDf, "doc_id_a", "doc_id_b").collect())
      val dropped = cc.filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSeq
      docs.filter(!col("doc_id").isInCollection(dropped)).write.mode("overwrite").parquet(out("deduped"))
      val nCand = cand.count()
      Seq(sh, sig, cand).foreach(_.unpersist())
      (nCand, verified.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
        cc.map(r => r.getLong(0) -> r.getLong(1)).toMap, Docs - dropped.size)
    }
    ctx.note("lsh_candidates", cands.toDouble)
    ctx.note("verified_pairs", edges.size.toDouble)
    if (!ctx.checking) return Nil
    val sample = edges.sortBy(e => (e._1, e._2)).take(SampleSize)
    val exact = diff("verified Jaccard", sample.map(e => (e._1, e._2) -> e._3).toMap,
      sample.map(e => (e._1, e._2) -> round4(jaccard(e._1, e._2))).toMap)
    val cc = diff("dedup clusters", labels, components(edges.map(e => (e._1, e._2))))
    val written = spark.read.parquet(out("deduped")).count()
    val count = if (written == kept) Nil else Seq(s"dedup wrote $written documents, expected $kept")
    exact ++ cc ++ count
  }

  private def ssjoin(ctx: OpCtx): Seq[String] = {
    val pairs = ctx.timed {
      val sh = Dedup.shingles(docs, "doc_id", "text", 3).persist()
      try Dedup.prefixSimilarityJoin(sh, "doc_id", Tau).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_bp")).toMap
      finally sh.unpersist()
    }
    if (!ctx.checking) return Nil
    once("ssjoin") {
      // every returned pair carries its exact similarity, and no pair of a
      // sampled document with similarity >= tau is missing
      val bp = diff("ssjoin similarity", pairs,
        pairs.keys.map(k => k -> math.round(10000.0 * jaccard(k._1, k._2))).toMap)
      val rnd = new java.util.SplittableRandom(seed + 1)
      val sampled = Seq.fill(SampleSize)(rnd.nextInt(Docs).toLong).distinct
      val missing = sampled.flatMap { a =>
        (0L until Docs.toLong).filter(b => b != a && jaccard(a, b) >= Tau)
          .map(b => (math.min(a, b), math.max(a, b)))
          .filterNot(pairs.contains)
      }
      (pairs, bp ++ missing.take(3).map(p => s"ssjoin missed pair $p (exact ${jaccard(p._1, p._2)})"))
    } match {
      case (first, problems) =>
        problems ++ (if (first == pairs) Nil else Seq("ssjoin result differs from the first run"))
    }
  }

  private def quality(ctx: OpCtx): Seq[String] = {
    ctx.timed(TextAnalysis.classifyQuality(docs, "text").filter(col("keep"))
      .select("doc_id", "text", "logit").write.mode("overwrite").parquet(out("quality")))
    if (!ctx.checking) return Nil
    val got = spark.read.parquet(out("quality")).select("doc_id").collect().map(_.getLong(0)).toSet
    val decided = texts.zipWithIndex.flatMap { case (t, i) => keepDecision(t).map(i.toLong -> _) }
    val wrong = decided.filter { case (id, keep) => got(id) != keep }
    if (wrong.isEmpty) Nil
    else Seq(s"quality filter: ${wrong.size} documents decided differently, e.g. ${wrong.take(3)}")
  }

  private def ann(ctx: OpCtx): Seq[String] = {
    val rows = ctx.timed {
      val probes = emb.filter(col("vec_id").isInCollection(probeIds))
      Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding", nCells = 16, nProbe = 4,
        m = 8, ksub = 16, k = K).collect()
    }
    val got = rows.groupBy(_.getAs[Long]("probe_id")).map { case (p, rs) =>
      p -> rs.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    }
    val exact = once("ann")(probeIds.map(p => p -> exactTopK(p, K).toSet).toMap)
    val recall = Stats.mean(probeIds.map(p =>
      got.getOrElse(p, Array.empty[(Int, Long)]).count(x => exact(p)(x._2)).toDouble / K))
    ctx.note("recall_at_10", recall)
    if (!ctx.checking) return Nil
    val shape = probeIds.flatMap { p =>
      val rs = got.getOrElse(p, Array.empty[(Int, Long)])
      val ok = rs.map(_._1).toSeq == (1 to K) && rs.map(_._2).distinct.length == K && !rs.exists(_._2 == p)
      if (ok) None else Some(s"probe $p: ranks ${rs.map(_._1).mkString(",")}")
    }
    shape.take(3) ++ (if (recall >= MinRecall) Nil else Seq(f"ANN recall@$K $recall%.3f below $MinRecall"))
  }

  val cycle: Seq[Op] = Seq(
    Op("dedup", write = true)(dedup),
    Op("ssjoin", write = false)(ssjoin),
    Op("quality", write = true)(quality),
    Op("ann", write = false)(ann))

  def space(): (Double, Double) = (Disk.bytes(new File(s"$dir/out")).toDouble, inputBytes.toDouble)

  def finalCheck(fresh: () => SparkSession): Seq[String] = Nil

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    val dedups = Layers.named(spans, "op.dedup")
    val cands = dedups.map(Layers.stat(_, "lsh_candidates")).sum
    Map(
      "ext.shingles_ms" -> Layers.meanWall(spans, "ext.shingles"),
      "ext.minhash_ms" -> Layers.meanWall(spans, "ext.minhash"),
      "ext.lsh_ms" -> Layers.meanWall(spans, "ext.lsh"),
      "ext.verify_ms" -> Layers.meanWall(spans, "ext.verify"),
      "ext.cc_ms" -> Layers.meanWall(spans, "ext.cc"),
      "ext.cc_jobs" -> Layers.meanStat(Layers.named(spans, "ext.cc"), "exec.jobs"),
      "ext.ssjoin_ms" -> Layers.meanWall(spans, "op.ssjoin"),
      "ext.quality_ms" -> Layers.meanWall(spans, "op.quality"),
      "ext.ann_ms" -> Layers.meanWall(spans, "op.ann"),
      "ext.lsh_candidates" -> Stats.mean(dedups.map(Layers.stat(_, "lsh_candidates"))),
      "ext.lsh_precision" -> dedups.map(Layers.stat(_, "verified_pairs")).sum / math.max(cands, 1.0),
      "ext.ann_recall_at_10" -> Layers.meanStat(Layers.named(spans, "op.ann"), "recall_at_10"))
  }
}

object CurationWorkload {
  val Docs = 2000
  val VocabSize = 3000
  val DupShare = 0.12
  val Punct: Seq[String] = Seq(".", ",", "!", "?", ";")
  val Langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")
  val Vectors = 2000
  val Dim = 64
  val Clusters = 32
  val Probes = 20
  val K = 10
  val Tau = 0.7
  val SampleSize = 100
  /** Recall@10 below this (10x the 0.005 of a random pick) means the
    * index is broken, not merely coarse. */
  val MinRecall = 0.05
  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType), StructField("source", StringType)))
  val EmbSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
}
