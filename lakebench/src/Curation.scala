package lakebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.apps.CorpusCuration
import graft.operators.{Decontaminate, Dedup}

/** `curation`: `CorpusCuration.runAndPublish` with its semantic and
  * decontamination stages over a seeded corpus with planted exact
  * duplicates, near-duplicate clusters (word edits), contaminated
  * documents, low-quality and non-English documents, and seeded
  * embeddings with planted semantic duplicates. */
object Curation {
  val Dim = 16
  val Cells = 8
  val NearRecallFloor = 0.9
  val DecontamMinHits = 5L

  final class Gen(seed: Long, n: Int) {
    private val rng = new java.util.Random(seed * 2654435761L + 29)
    private val vocab: Array[String] = Array.tabulate(800) { i =>
      val b = new StringBuilder
      var x = i + 1
      while (x > 0) { b.append(('a' + x % 26).toChar); x /= 26 }
      b.append("ing".take(i % 4)).toString
    }
    private val benchVocab = Array.tabulate(400)(i => s"zq${i}x")
    private def words(k: Int, v: Array[String]): Seq[String] = Seq.fill(k)(v(rng.nextInt(v.length)))
    /** English-looking prose: content words joined by function words, so
      * the quality and language gates pass it. */
    private val function = IndexedSeq("the", "and", "of", "to", "in", "a")
    private def prose(k: Int): Seq[String] =
      words(k, vocab).grouped(4).flatMap(g => g :+ function(rng.nextInt(function.size))).toSeq
    private def sentence(ws: Seq[String]): String = ws.mkString(" ") + "."

    val bench: Seq[(Long, String)] = (0 until 40).map(i =>
      (1000000000L + i, sentence(words(60, benchVocab))))

    val docs = mutable.ArrayBuffer[(Long, String)]()
    val exactGroups = mutable.ArrayBuffer[Seq[Long]]()
    val nearClusters = mutable.ArrayBuffer[Seq[Long]]()
    val contaminated = mutable.ArrayBuffer[Long]()
    val semanticTwins = mutable.ArrayBuffer[(Long, Long)]()
    private var next = 0L
    private def add(t: String): Long = { val id = next; next += 1; docs += ((id, t)); id }
    private val (exactP, nearP) = (4, 10)
    while (docs.size < n) {
      val r = rng.nextInt(100)
      val base = prose(100 + rng.nextInt(60))
      if (r < exactP) { // exact duplicates: 2-3 copies
        val t = sentence(base)
        exactGroups += Seq.fill(2 + rng.nextInt(2))(add(t))
      } else if (r < nearP) { // near duplicates: a few single-word edits per copy
        val ids = mutable.ArrayBuffer(add(sentence(base)))
        for (_ <- 0 until 1 + rng.nextInt(2)) {
          val ws = base.toArray
          for (_ <- 0 until 3) ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(vocab.length))
          ids += add(sentence(ws.toSeq))
        }
        nearClusters += ids.toSeq
      } else if (r < nearP + 2) { // contaminated: carries a passage of a bench doc
        val b = bench(rng.nextInt(bench.size))._2.split(" ")
        val at = rng.nextInt(b.length - 20)
        contaminated += add(sentence(base.take(50) ++ b.slice(at, at + 20) ++ base.drop(50)))
      } else if (r < nearP + 4) add("short " + vocab(rng.nextInt(vocab.length)))
      else if (r < nearP + 6) add(Seq.fill(30)("der hund und die katze").mkString(" "))
      else add(sentence(base))
    }

    /** Unit embeddings per doc; ~2% copy another doc's vector with small
      * noise (a semantic twin). The `Cells` centroids are further random
      * unit vectors. */
    private def unit(): Array[Double] = {
      val v = Array.fill(Dim)(rng.nextGaussian())
      val l = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / l)
    }
    val embeddings: Seq[(Long, Array[Double])] = {
      val out = mutable.ArrayBuffer[(Long, Array[Double])]()
      docs.foreach { case (id, _) =>
        if (out.nonEmpty && rng.nextInt(100) < 2) {
          val (tid, tv) = out(rng.nextInt(out.size))
          semanticTwins += ((tid, id))
          out += ((id, tv.map(_ + rng.nextGaussian() * 0.001)))
        } else out += ((id, unit()))
      }
      out.toSeq
    }
    val centroids: (Array[Long], Array[Array[Double]]) =
      (Array.tabulate(Cells)(_.toLong), Array.fill(Cells)(unit()))

    private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def docsJson: String = docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"${esc(t)}"}""" }.mkString("\n") + "\n"
    def benchJson: String = bench.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"${esc(t)}"}""" }.mkString("\n") + "\n"
    def embJson: String = embeddings.map { case (id, v) =>
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""" }.mkString("\n") + "\n"
    def truthText: String =
      (exactGroups.map("exact " + _.mkString(",")) ++
        nearClusters.map("near " + _.mkString(",")) ++
        contaminated.map("contaminated " + _) ++
        semanticTwins.map { case (a, b) => s"semantic $a,$b" }).mkString("\n") + "\n"
  }

  final case class Inputs(g: Gen, dir: String)

  /** Set-up: write the corpus, the bench docs and the embeddings as JSON
    * lines, with the planted truth beside them. */
  def setup(seed: Long, n: Int, dir: String): Inputs = {
    val g = new Gen(seed, n)
    Util.write(s"$dir/docs.jsonl", g.docsJson)
    Util.write(s"$dir/bench.jsonl", g.benchJson)
    Util.write(s"$dir/embeddings.jsonl", g.embJson)
    Util.write(s"$dir/truth.txt", g.truthText)
    Inputs(g, dir)
  }

  final case class Result(docsPerS: Double, wallS: Double, publishS: Double,
                          inputBytes: Double, publishedBytes: Double, attempted: Long,
                          failed: Long, layer: Map[String, Double])

  def run(spark: SparkSession, in: Inputs, trace: Trace): Result = {
    val g = in.g
    val docs = spark.read.schema("doc_id long, text string").json(s"${in.dir}/docs.jsonl")
    val bench = spark.read.schema("doc_id long, text string").json(s"${in.dir}/bench.jsonl")
    val emb = spark.read.schema("vec_id long, embedding array<double>")
      .json(s"${in.dir}/embeddings.jsonl")
    val pubPath = s"${in.dir}/published"
    val sem = CorpusCuration.SemanticStage(emb, g.centroids, threshold = 0.95)
    val t = Util.now()
    val pub = trace.span("apps.curation") {
      CorpusCuration.runAndPublish(spark, docs, pubPath, nShards = 8,
        benchDocs = Some(bench), decontamMinHits = DecontamMinHits, semantic = Some(sem))
    }
    val wall = Util.secs(t)
    val rep = pub.report

    // output checks against the planted truth
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"lakebench: curation check failed: $what") }
    }
    val survivors = spark.read.parquet(s"$pubPath/data").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val manifestRows = pub.manifest.agg(coalesce(sum("n_rows"), lit(0L))).collect()(0).getLong(0)
    check(manifestRows == rep.afterDecontam && pub.publishedRows == rep.afterDecontam &&
      survivors.size == rep.afterDecontam,
      s"manifest $manifestRows / published ${survivors.size} vs report ${rep.afterDecontam}")
    val exactLeft = g.exactGroups.count(grp => grp.count(survivors) > 1)
    check(exactLeft == 0, s"$exactLeft exact-duplicate groups kept more than one copy")
    val planted = g.nearClusters.map(_.size - 1).sum
    val removed = g.nearClusters.map(c => math.min(c.size - 1, c.count(x => !survivors(x)))).sum
    val recall = removed.toDouble / math.max(1, planted)
    check(recall >= NearRecallFloor, s"near-dup recall $recall < $NearRecallFloor")
    val contam = g.contaminated.count(survivors)
    check(contam == 0, s"$contam contaminated docs survived")

    val layer = mutable.LinkedHashMap[String, Double]()
    if (trace.on) {
      val st = trace.spanStats("apps.curation")
      Seq("input" -> rep.input, "after_quality" -> rep.afterQuality,
        "after_exact" -> rep.afterExact, "after_near_dup" -> rep.afterNearDup,
        "after_semantic" -> rep.afterSemantic, "after_decontam" -> rep.afterDecontam)
        .foreach { case (k, v) => layer(s"apps.curation.rows.$k") = v.toDouble }
      layer("apps.curation.jobs") = st.jobs
      layer("apps.curation.run_core_s") = st.tasks.runCoreS
      layer("apps.curation.cpu_core_s") = st.tasks.cpuCoreS
      layer("apps.curation.shuffle_write_bytes") = st.tasks.shuffleWrite
      layer("apps.curation.spill_bytes") = st.tasks.spill
      layer("apps.curation.gc_s") = st.tasks.gcMs / 1e3
      layer("apps.curation.driver_gap_s") = st.driverGapMs / 1e3
      layer("operators.dedup.near_recall") = recall
      layer("sinks.publish_files") = Util.dataFiles(s"$pubPath/data").size
      layer("sinks.publish_bytes") = Util.bytesUnder(s"$pubPath/data")
      layer ++= operators(spark, docs, bench, sem, trace)
    }
    Result(rep.input / wall, wall, pub.publishSec,
      new java.io.File(s"${in.dir}/docs.jsonl").length.toDouble,
      Util.bytesUnder(s"$pubPath/data").toDouble, attempted, failed, layer.toMap)
  }

  /** The layer calls one by one on the same corpus, each in its own span,
    * plus the text kernels through their SQL functions and column API. */
  private def operators(spark: SparkSession, docs: DataFrame, bench: DataFrame,
                        sem: CorpusCuration.SemanticStage,
                        trace: Trace): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    def timed[T](name: String)(f: => T): T = {
      val t = Util.now()
      val x = trace.span(name)(f)
      out(s"${name}_s") = Util.secs(t)
      x
    }
    val corpus = docs.persist()
    val n = corpus.count()
    timed("operators.dedup.exact") {
      val keep = corpus.groupBy(graft.functions.Text.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("doc_id"))
      corpus.join(keep.select("doc_id"), Seq("doc_id"), "left_semi").count()
    }
    val pairs = timed("operators.dedup.minhash_lsh") {
      Dedup.minHashLsh(corpus, "text", "doc_id", estThreshold = 0.5).localCheckpoint()
    }
    val nPairs = pairs.count()
    out("operators.dedup.lsh_pairs") = nPairs
    // edge sets up to Dedup's default smallEdgeLimit collapse in a driver
    // union-find; larger ones take the DataFrame path
    out("operators.dedup.cc_path") = if (nPairs <= 100000L) 1.0 else 0.0
    timed("operators.dedup.cluster") {
      Dedup.clusterDuplicatesScoped(pairs, spark)(_.count())
    }
    timed("operators.dedup.semantic") {
      Dedup.semanticDedup(sem.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
        "embedding", "doc_id", spark, sem.centroids, sem.threshold).count()
    }
    timed("operators.decontam") {
      Decontaminate.bloomHits(corpus, bench, "text", "doc_id").count()
    }
    def rate(name: String, c: org.apache.spark.sql.Column): Unit = {
      val t = Util.now()
      trace.span(s"expressions.$name") {
        corpus.select(c.as("x")).write.format("noop").mode("overwrite").save()
      }
      out(s"expressions.${name}_rows_per_s") = n / Util.secs(t)
    }
    import graft.expressions.TextSignatures
    rate("minhash", expr("minhash_sig(text)"))
    rate("simhash", expr("simhash_sig(text)"))
    rate("gram_fp", TextSignatures.gramFingerprints(graft.functions.Text.tokens(col("text")), 5))
    rate("segment_fp", TextSignatures.segmentFingerprints(col("text"), 8))
    corpus.unpersist()
    out.toMap
  }
}
