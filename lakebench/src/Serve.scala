package lakebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.Sinks

/** `lake_serve`: one client runs a closed loop of reads and writes over a
  * shard-layout fact table published once in set-up, and every answer is
  * compared against an in-memory model of the table.
  *
  * Table: (id, ts, user_key, amount, region, payload, shard_key). `ts`
  * grows with `id` and is unique, and `shard_key` buckets `ts`, so zone
  * maps on (id, ts, amount) prune ranges and the bloom on `id` prunes
  * point lookups. */
object Serve {
  val NShards = 16
  val Base = 1700000000000L
  val StepMs = 1000L
  /** Seconds of `--seconds` per cycle of [[Schedule]]: a run makes
    * `seconds / CycleBudgetS` whole cycles (at least one), whatever its
    * speed, so every run of one `--seconds` does the same operations. */
  val CycleBudgetS = 10.0
  def cycles(seconds: Double): Int = math.max(1, (seconds / CycleBudgetS).toInt)

  /** The closed loop's operations, and the fixed order it cycles through
    * them: 12 point lookups, 3 each of range, top-k and metadata reads, 2
    * each of merge and delete (the proportions are assumptions; see the
    * README). A fixed order keeps the sample count of each kind the same
    * from seed to seed; the seed picks the keys. The first `Ops.size`
    * steps (one of each kind) warm the loop up untimed. */
  val Ops: Seq[String] = Seq("point", "range", "topk", "meta", "merge", "delete")
  val Schedule: IndexedSeq[String] = IndexedSeq("point", "range", "topk", "meta",
    "merge", "delete", "point", "point", "range", "point", "point", "topk", "point",
    "merge", "point", "meta", "point", "point", "range", "point", "topk", "delete",
    "point", "meta", "point")

  final case class Rec(ts: Long, userKey: Long, amount: Long,
                       region: String, payload: String)

  /** Seeded generator: the rows of the table as published. */
  final class Gen(seed: Long, val rows: Int) {
    private val rng = new java.util.Random(seed * 7919L + 11)
    val width: Long = math.max(1L, rows.toLong * StepMs / NShards)
    val regions = Array("north", "south", "east", "west", "central")
    def tsOf(id: Long): Long = Base + id * StepMs + (id * 37 % 997)
    def shardOf(ts: Long): Long = math.min(NShards - 1L, (ts - Base) / width)
    def payload(r: java.util.Random): String = {
      val sb = new StringBuilder
      while (sb.length < 40) sb.append(('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    val initial: Array[(Long, Rec)] = Array.tabulate(rows) { i =>
      val id = i.toLong
      id -> Rec(tsOf(id), rng.nextInt(5000).toLong, rng.nextInt(100000).toLong,
        regions(rng.nextInt(regions.length)), payload(rng))
    }
    def text(): String =
      initial.map { case (id, r) =>
        s"$id,${r.ts},${r.userKey},${r.amount},${r.region},${r.payload}"
      }.mkString("\n")
  }

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_key", LongType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("region", StringType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("shard_key", LongType, nullable = false)))

  def frame(spark: SparkSession, g: Gen, recs: Seq[(Long, Rec)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(recs.map { case (id, r) =>
        Row(id, r.ts, r.userKey, r.amount, r.region, r.payload, g.shardOf(r.ts))
      }, math.max(1, math.min(8, recs.size / 5000 + 1))), schema)

  /** Set-up: publish the table. */
  def publish(spark: SparkSession, g: Gen, path: String): Unit =
    Sinks.writeShards(frame(spark, g, g.initial.toSeq), path, "id", NShards,
      zoneCols = Seq("id", "ts", "amount"), shardCol = Some("shard_key"),
      sortCols = Seq("ts"), bloomCols = Seq("id"))

  /** Read-only point lookups on the freshly published table for `seconds`;
    * returns their latencies (ms). Used to price the tracing overhead. */
  def probe(spark: SparkSession, g: Gen, path: String, seconds: Double,
            seed: Long, trace: Trace): Seq[Double] = {
    val rng = new java.util.Random(seed * 17L + 1)
    val lat = mutable.ArrayBuffer[Double]()
    val deadline = Util.now() + (seconds * 1e9).toLong
    while (Util.now() < deadline) {
      val id = rng.nextInt(g.rows).toLong
      val t = Util.now()
      val n = trace.span("serve.probe")(
        Sinks.readShardsPoint(spark, path, "id", id.toString).collect().length)
      lat += Util.ms(t)
      require(n == 1, s"probe: id $id returned $n rows")
    }
    lat.toSeq
  }

  final case class Result(lat: Map[String, Seq[Double]], loopS: Double, attempted: Long,
                          failed: Long, bytesPerUserByte: Double,
                          layer: Map[String, Double])

  /** The closed loop: `cycles` whole cycles of [[Schedule]], then a check
    * of the whole table. */
  def run(spark: SparkSession, g: Gen, path: String, cycles: Int,
          seed: Long, trace: Trace, corrupt: Boolean): Result = {
    val model = mutable.HashMap[Long, Rec]() ++= g.initial
    var nextId = g.rows.toLong
    val rng = new java.util.Random(seed * 31L + 5)
    val zipf = new Util.Zipf(g.rows, 1.1, rng)
    // Zipf-hot keys, which map to ids through a seeded permutation so the
    // hot keys spread over the shards
    val perm: Array[Long] = {
      val a = Array.tabulate(g.rows)(_.toLong)
      val r = new java.util.Random(seed * 13L + 3)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def hotId(): Long = perm(zipf.next())
    val lat = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]](
      Ops.map(_ -> mutable.ArrayBuffer[Double]()): _*)
    var attempted = 0L
    var failed = 0L
    val data = s"$path/data"
    val scanFiles = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
    var opId = 0L

    def liveFiles(): Long = Util.dataFiles(data).size.toLong
    def scan(op: String, df: DataFrame): Unit = if (trace.on) {
      val files = Trace.filesRead(df, data)
      val live = liveFiles()
      scanFiles.getOrElseUpdate(op, mutable.ArrayBuffer()) += ((files, live))
      // a prunable read that opened every file, or a metadata aggregate
      // that opened any, fell back to a full scan
      if (if (op == "meta") files > 0 else files >= live && live > 1)
        trace.count("plans.fallbacks")
    }
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"lakebench: serve mismatch: $what") }
    }

    // the model: rows by id, an index by ts, and the running amount sum
    val byTs = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    model.foreach { case (id, r) => byTs.put(r.ts, id) }
    var amountSum = model.valuesIterator.map(_.amount).sum
    def put(id: Long, r: Rec): Unit = {
      model.put(id, r).foreach { old => byTs.remove(old.ts); amountSum -= old.amount }
      byTs.put(r.ts, id); amountSum += r.amount
    }
    def remove(id: Long): Unit =
      model.remove(id).foreach { old => byTs.remove(old.ts); amountSum -= old.amount }
    // time the system's part of an operation, from building the query to
    // its last row, not the model check; the warm-up steps are checked but
    // not timed
    var measuring = false
    def timed[T](op: String)(f: => T): T = {
      val t = Util.now(); val x = f
      if (measuring) lat(op) += Util.ms(t)
      x
    }

    def step(): Unit = {
      val op = Schedule((opId % Schedule.size).toInt)
      opId += 1
      try trace.span(s"serve.$op", opId) {
        op match {
          case "point" =>
            val id = hotId()
            val (df, got) = timed(op) {
              val df = Sinks.readShardsPoint(spark, path, "id", id.toString)
                .select("id", "ts", "user_key", "amount", "region", "payload")
              (df, df.collect().toSeq)
            }
            val want = model.get(id).toSeq.map(r =>
              Row(id, r.ts, r.userKey, r.amount, r.region, r.payload))
            check(got == want, s"point $id: $got vs $want")
            scan("point", df)
          case "range" =>
            // ranges biased to recent keys: start within an exponential
            // distance of the newest timestamp
            val maxTs = g.tsOf(nextId - 1)
            val back = (-math.log(1 - rng.nextDouble()) * g.width * 2).toLong
            val a = maxTs - back
            val b = a + g.width / 4
            val (df, r) = timed(op) {
              val df = spark.read.parquet(data)
                .filter(col("ts") >= a && col("ts") < b)
                .agg(count(lit(1)), coalesce(sum("amount"), lit(0L)),
                  coalesce(sum("id"), lit(0L)))
              (df, df.collect()(0))
            }
            var n = 0L; var sa = 0L; var si = 0L
            byTs.subMap(a, b).values().forEach { id =>
              n += 1; si += id; sa += model(id).amount }
            check(r.getLong(0) == n && r.getLong(1) == sa && r.getLong(2) == si,
              s"range [$a,$b): $r vs ($n,$sa,$si)")
            scan("range", df)
          case "topk" =>
            val k = 20
            val (df, got) = timed(op) {
              val df = spark.read.parquet(data).orderBy(col("ts").desc)
                .limit(k).select("id")
              (df, df.collect().map(_.getLong(0)).toSeq)
            }
            val it = byTs.descendingMap().values().iterator()
            val want = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().toLong)
              .take(k).toSeq
            check(got == want, s"topk: $got vs $want")
            scan("topk", df)
          case "meta" =>
            val (df, r) = timed(op) {
              val df = spark.read.parquet(data)
                .agg(count(lit(1)), min("ts"), max("ts"), sum("amount"))
              (df, df.collect()(0))
            }
            check(r.getLong(0) == model.size && r.getLong(1) == byTs.firstKey &&
              r.getLong(2) == byTs.lastKey && r.getLong(3) == amountSum, s"meta: $r")
            scan("meta", df)
          case "merge" =>
            val ids = Seq.fill(1 + rng.nextInt(3))(hotId()).distinct
              .filter(model.contains)
            val upd = ids.map { id =>
              id -> model(id).copy(amount = rng.nextInt(100000).toLong,
                payload = g.payload(rng))
            }
            val id = nextId
            nextId += 1
            val patch = upd :+ (id -> Rec(g.tsOf(id), rng.nextInt(5000).toLong,
              rng.nextInt(100000).toLong, g.regions(rng.nextInt(5)), g.payload(rng)))
            val before = if (trace.on) dirBytes(data) else Map.empty[String, Long]
            timed(op)(Sinks.mergeRows(spark, path, frame(spark, g, patch), "id"))
            patch.foreach { case (i, r) => put(i, r) }
            if (trace.on) rewritten("merge", before, data, trace)
            attempted += 1
          case "delete" =>
            val ids = Seq.fill(1 + rng.nextInt(2))(hotId()).distinct
            val before = if (trace.on) dirBytes(data) else Map.empty[String, Long]
            timed(op)(Sinks.deleteWhere(spark, path, "id", col("id").isin(ids: _*)))
            ids.foreach(remove)
            if (trace.on) rewritten("delete", before, data, trace)
            attempted += 1
        }
      } catch {
        case e: Exception =>
          attempted += 1; failed += 1
          System.err.println(s"lakebench: serve $op failed: $e")
      }
    }

    Ops.foreach(_ => step())
    measuring = true
    val tLoop = Util.now()
    for (_ <- 0 until cycles; _ <- Schedule) step()
    val loopS = Util.secs(tLoop)
    if (corrupt) {
      // deliberately alter one served row behind the model's back: the
      // final full-table check must catch it
      val (id, r) = model.head
      Sinks.mergeRows(spark, path,
        frame(spark, g, Seq(id -> r.copy(amount = r.amount + 1))), "id")
    }
    // final output check: the served table equals the model, row for row
    val all = spark.read.parquet(data)
      .select("id", "ts", "user_key", "amount", "region", "payload").collect()
    val got = all.map(r => r.getLong(0) -> Rec(r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4), r.getString(5))).toMap
    check(got.size == all.length && got == model.toMap,
      s"final table: ${all.length} rows vs model ${model.size}")

    val userBytes = model.valuesIterator.map(r =>
      8L * 5 + r.region.length + r.payload.length).sum.toDouble
    val liveBytes = Util.bytesUnder(data).toDouble
    val layer = mutable.LinkedHashMap[String, Double]()
    if (trace.on) {
      def ratio(op: String): Double = scanFiles.get(op).map { xs =>
        xs.map(_._1).sum.toDouble / math.max(1L, xs.map(_._2).sum)
      }.getOrElse(Double.NaN)
      def avgFiles(op: String): Double = scanFiles.get(op).map { xs =>
        xs.map(_._1).sum.toDouble / xs.size }.getOrElse(Double.NaN)
      layer("plans.point.files_read") = avgFiles("point")
      layer("plans.range.shards_kept_ratio") = ratio("range")
      layer("plans.topk.shards_kept_ratio") = ratio("topk")
      layer("plans.meta.files_read") = avgFiles("meta")
      layer("plans.fallbacks") = trace.counter("plans.fallbacks")
      val root = new java.io.File(path)
      val retained = Option(root.listFiles()).toSeq.flatten
        .filter(f => f.getName != "data" && f.getName != "manifest")
        .map(f => Util.bytesUnder(f.getPath)).sum
      layer("storage.live_files") = Util.dataFiles(data).size.toDouble
      layer("storage.live_bytes") = liveBytes
      layer("storage.retained_bytes") = retained.toDouble
      layer("storage.generations") = trace.counter("storage.generations")
      for (w <- Seq("merge", "delete"); k <- Seq("files_rewritten", "bytes_rewritten"))
        layer(s"sinks.$w.$k") = trace.counter(s"sinks.$w.$k")
    }
    Result(lat.map { case (k, v) => k -> v.toSeq }.toMap, loopS, attempted, failed,
      liveBytes / userBytes, layer.toMap)
  }

  private def dirBytes(data: String): Map[String, Long] =
    Util.dataFiles(data).map(f => f.getPath -> f.length).toMap

  /** Files and bytes a write replaced: the live files that were not in
    * the layout before the write. */
  private def rewritten(op: String, before: Map[String, Long], data: String,
                        trace: Trace): Unit = {
    val after = dirBytes(data)
    val fresh = after.filter { case (p, _) => !before.contains(p) }
    trace.count(s"sinks.$op.files_rewritten", fresh.size)
    trace.count(s"sinks.$op.bytes_rewritten", fresh.values.sum)
    trace.count("storage.generations")
  }
}
