package lakebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.apps._
import graft.sources.Sources
import graft.storage.{ParquetDirFormat, TableFormat}
import graft.streaming.Pipelines

/** `lakehouse_etl`: the paper's pipeline. Seeded Maxwell-style CDC records
  * and browse-log JSON files go through ODS -> DWD -> DWS -> DM, then the
  * points batch and the maintenance job run over the lake.
  *
  * Every event carries an event time on a virtual clock: the backlog sits
  * before `Base`, and open-loop tick k is due at `Base + k * TickMs` and is
  * written at wall time `t0 + k * TickMs` whatever the system is doing.
  * Freshness of an event is the wall time its DWS file landed minus the
  * wall time it was due. */
object Etl {
  val Base = 1709251200000L // 2024-03-01 00:00:00 UTC
  val TickMs = 250L
  val BacklogSpanMs = 360000L
  val LateMs = 120000L
  val FlushMs = 300000L
  val FileEvents = 500

  val Queries = Seq("ods_db", "ods_log", "dim_upsert", "dwd_login", "dwd_browse",
    "dws_login", "dws_browse", "dm_login", "dm_visit")

  /** One generated event. `kind` is "login" or "browse"; `admitted` says
    * whether it passes the ODS filter on database or log type, which Spark
    * pushes into the JSON scan; `valid` says whether it must land in DWS;
    * `late` marks a planted event beyond the DM watermark; `tick` is its
    * open-loop tick (-1 in the backlog). */
  final case class Ev(id: String, kind: String, json: String, admitted: Boolean,
                      valid: Boolean, late: Boolean, tick: Int, eventMs: Long,
                      user: String, product: Int, points: Int)

  /** Users and products are Zipf-skewed. */
  final class Gen(seed: Long, backlog: Int, rate: Int, openSec: Double) {
    private val rng = new java.util.Random(seed * 1000003L + 17)
    val nUsers = 300
    val nProducts = 120
    val nFirst = 4
    val nSecond = 12
    val provinces = Array("Beijing", "Shanghai", "Guangdong", "Zhejiang", "Sichuan")
    def user(i: Int): String = f"u$i%05d"
    val productCat: Array[Int] = Array.fill(nProducts)(rng.nextInt(nSecond))
    val ticks: Int = math.max(1, (openSec * 1000 / TickMs).toInt)
    val perTick: Int = math.max(2, (rate * TickMs / 1000).toInt)

    /** The CDC config table: which source tables are dims. */
    val config: Seq[(String, String, String, String, String)] = Seq(
      ("lakehousedb", "mc_member_info", "DIM_MEMBER_INFO", "user_id",
        "user_id,member_level,member_points,balance,gmt_create"),
      ("lakehousedb", "mc_member_address", "DIM_MEMBER_ADDRESS", "user_id",
        "user_id,province,city,area"),
      ("lakehousedb", "mc_product_info", "DIM_PRODUCT_INFO", "product_id",
        "product_id,product_name,price"),
      ("lakehousedb", "mc_product_category", "DIM_PRODUCT_CATEGORY", "id",
        "id,p_id,name"))

    private def cdc(db: String, table: String, data: Seq[(String, String)],
                    ts: Long): String =
      s"""{"database":"$db","table":"$table","type":"insert","ts":"${ts / 1000}",""" +
        s""""xid":"${rng.nextInt(1000000)}","commit":"true","data":{""" +
        data.map { case (k, v) => s""""$k":"$v"""" }.mkString(",") + "}}"

    /** Dim records, at the head of the CDC backlog. */
    val dims: Seq[String] = {
      val t = Base - BacklogSpanMs - 1000
      (0 until nUsers).flatMap { i =>
        Seq(cdc("lakehousedb", "mc_member_info", Seq("user_id" -> user(i),
          "member_level" -> (1 + rng.nextInt(5)).toString,
          "member_points" -> rng.nextInt(10000).toString,
          "balance" -> rng.nextInt(50000).toString,
          "gmt_create" -> (Base - rng.nextInt(1000000000)).toString), t),
          cdc("lakehousedb", "mc_member_address", Seq("user_id" -> user(i),
            "province" -> provinces(i % provinces.length),
            "city" -> s"city${i % 17}", "area" -> s"area${i % 5}"), t))
      } ++ (0 until nFirst).map(c => cdc("lakehousedb", "mc_product_category",
        Seq("id" -> s"c$c", "p_id" -> "root", "name" -> s"category-$c"), t)) ++
        (0 until nSecond).map(c => cdc("lakehousedb", "mc_product_category",
          Seq("id" -> s"s$c", "p_id" -> s"c${c % nFirst}", "name" -> s"sub-$c"), t)) ++
        (0 until nProducts).map(p => cdc("lakehousedb", "mc_product_info",
          Seq("product_id" -> s"p$p", "product_name" -> s"product-$p",
            "price" -> (1 + rng.nextInt(999)).toString), t))
    }

    private val userZipf = new Util.Zipf(nUsers, 1.2, rng)
    private val productZipf = new Util.Zipf(nProducts, 1.2, rng)
    private var seq = 0
    private def event(eventMs: Long, tick: Int, late: Boolean): Ev = {
      seq += 1
      val u = userZipf.next()
      if (rng.nextBoolean()) {
        val id = s"L$seq"
        val r = rng.nextInt(100)
        val foreign = r < 1
        val noUser = r >= 1 && r < 3
        val data = Seq("id" -> id) ++ (if (noUser) Nil else Seq("user_id" -> user(u))) ++
          Seq("ip" -> s"10.${u % 250}.${rng.nextInt(250)}.${rng.nextInt(250)}",
            "login_tm" -> eventMs.toString,
            "logout_tm" -> (eventMs + 60000 + rng.nextInt(3600000)).toString)
        Ev(id, "login", cdc(if (foreign) "otherdb" else "lakehousedb",
          "mc_user_login", data, eventMs), admitted = !foreign, valid = !foreign && !noUser,
          late = false, tick, eventMs, user(u), -1, 0)
      } else {
        val id = s"B$seq"
        val p = productZipf.next()
        val pts = rng.nextInt(10)
        val r = rng.nextInt(100)
        val otherType = r < 2
        val noUser = r >= 2 && r < 4
        val fields = Seq("logTime" -> eventMs.toString) ++
          (if (noUser) Nil else Seq("userId" -> user(u))) ++
          Seq("userIp" -> s"10.${u % 250}.1.1",
            "frontProductUrl" -> s"https://m.shop.example/e/$id",
            "browseProductUrl" -> s"https://m.shop.example/p/p$p",
            "browseProductTpCode" -> s"s${productCat(p)}",
            "browseProductCode" -> s"p$p",
            "obtainPoints" -> pts.toString)
        val json = s"""{"logtype":"${if (otherType) "startlog" else "browselog"}",""" +
          """"data":{""" + fields.map { case (k, v) => s""""$k":"$v"""" }.mkString(",") + "}}"
        Ev(id, "browse", json, admitted = !otherType, valid = !otherType && !noUser,
          late = late && !otherType && !noUser,
          tick, eventMs, user(u), p, pts)
      }
    }

    /** Backlog events, in event-time order before `Base`. */
    val backlogEvents: Seq[Ev] = (0 until backlog).map { i =>
      event(Base - BacklogSpanMs + i.toLong * (BacklogSpanMs - 40000) / backlog, -1, late = false)
    }

    /** Open-loop events per tick: ~3% arrive out of order inside the
      * watermark, ~1% far beyond it. The last tick ends with one flush
      * event that moves the watermark past every real window. */
    val openEvents: Seq[Seq[Ev]] = (0 until ticks).map { k =>
      val due = Base + k * TickMs
      (0 until perTick).map { _ =>
        val r = rng.nextInt(1000)
        if (r < 10) event(due - LateMs, k, late = true)
        else if (r < 40) event(due - 1000 - rng.nextInt(9000), k, late = false)
        else event(due, k, late = false)
      }
    }
    val flush: Ev = {
      var e = event(Base + ticks * TickMs + FlushMs, ticks - 1, late = false)
      while (e.kind != "browse" || !e.valid)
        e = event(Base + ticks * TickMs + FlushMs, ticks - 1, late = false)
      e
    }
    val all: Seq[Ev] = backlogEvents ++ openEvents.flatten :+ flush

    def backlogFiles: Seq[(String, String, String)] = { // (stream, name, text)
      val cdcLines = dims ++ backlogEvents.filter(_.kind == "login").map(_.json)
      val logLines = backlogEvents.filter(_.kind == "browse").map(_.json)
      cdcLines.grouped(FileEvents).zipWithIndex.map { case (g, i) =>
        ("cdc", f"backlog-$i%05d.json", g.mkString("\n") + "\n") }.toSeq ++
        logLines.grouped(FileEvents).zipWithIndex.map { case (g, i) =>
          ("log", f"backlog-$i%05d.json", g.mkString("\n") + "\n") }.toSeq
    }

    def tickFiles(k: Int): Seq[(String, String, String)] = {
      val evs = openEvents(k) ++ (if (k == ticks - 1) Seq(flush) else Nil)
      Seq("cdc" -> evs.filter(_.kind == "login"), "log" -> evs.filter(_.kind == "browse"))
        .filter(_._2.nonEmpty)
        .map { case (s, es) => (s, f"tick-$k%05d.json", es.map(_.json).mkString("\n") + "\n") }
    }

    // ---- planted truth ----
    def windowOf(ms: Long): Long = (ms / 1000) / 10 * 10 // 10 s windows, second precision
    val validLogins: Set[String] = all.filter(e => e.kind == "login" && e.valid).map(_.id).toSet
    val validBrowse: Set[String] = all.filter(e => e.kind == "browse" && e.valid).map(_.id).toSet
    val lateCount: Long = all.count(_.late)
    /** DM groups (window, product) the late events fall in. */
    val lateGroups: Long =
      all.filter(_.late).map(e => (windowOf(e.eventMs), e.product)).distinct.size
    /** Records the ODS scans emit: the dims and every admitted event. */
    val rowsAdmitted: Long = dims.size + all.count(_.admitted)
    /** (window start s, first, second, product) -> count over on-time events. */
    val dmCounts: Map[(Long, String, String, String), Long] =
      all.filter(e => e.kind == "browse" && e.valid && !e.late && (e ne flush))
        .groupBy(e => (windowOf(e.eventMs), s"category-${productCat(e.product) % nFirst}",
          s"sub-${productCat(e.product)}", s"product-${e.product}"))
        .map { case (k, v) => k -> v.size.toLong }
    /** (date, user, product) -> points over every valid browse event. */
    val points: Map[(String, String, String), Long] =
      all.filter(e => e.kind == "browse" && e.valid)
        .groupBy(e => (java.time.Instant.ofEpochMilli(e.eventMs).toString.take(10),
          e.user, s"product-${e.product}"))
        .map { case (k, v) => k -> v.map(_.points.toLong).sum }

    def truthText: String =
      (validLogins.toSeq.sorted.map("dws_login " + _) ++
        validBrowse.toSeq.sorted.map("dws_browse " + _) ++
        dmCounts.toSeq.sortBy(_._1.toString).map { case (k, v) => s"dm $k $v" } ++
        points.toSeq.sortBy(_._1.toString).map { case (k, v) => s"points $k $v" } :+
        s"late_dropped $lateCount" :+ s"rows_admitted $rowsAdmitted").mkString("\n") + "\n"
  }

  /** Set-up: land the backlog and the config, write the planted truth. */
  def setup(seed: Long, backlog: Int, rate: Int, openSec: Double, dir: String): Gen = {
    val g = new Gen(seed, backlog, rate, openSec)
    g.backlogFiles.foreach { case (s, n, t) => Util.writeAtomic(s"$dir/in/$s", n, t) }
    Util.write(s"$dir/config.jsonl", g.config.map { case (db, t, dim, pk, cols) =>
      s"""{"tbl_db":"$db","tbl_name":"$t","phoenix_tbl_name":"$dim","pk_col":"$pk","cols":"$cols"}"""
    }.mkString("\n") + "\n")
    Util.write(s"$dir/truth.txt", g.truthText)
    g
  }

  final case class Result(drainEventsPerS: Double, freshness: Seq[Double],
                          inputBytes: Double, lakeBytes: Double,
                          pointsS: Double, maintenanceS: Double, batchS: Double,
                          lateness: Seq[Double], info: Map[String, Double],
                          attempted: Long, failed: Long,
                          layer: Map[String, Double])

  /** The DM stages append on a 0.5 s trigger instead of the format's 5 s
    * default, so the drain measures work rather than the trigger period. */
  private object DmFormat extends TableFormat {
    private val p = ParquetDirFormat
    def read(spark: SparkSession, table: String) = p.read(spark, table)
    def append(df: DataFrame, table: String, partitionCols: Seq[String]) =
      p.append(df, table, partitionCols)
    def streamAppend(df: DataFrame, table: String, checkpoint: String,
                     partitionCols: Seq[String], triggerMs: Long) =
      p.streamAppend(df, table, checkpoint, partitionCols, 500L)
    def replace(df: DataFrame, table: String) = p.replace(df, table)
    def upsert(spark: SparkSession, batch: DataFrame, table: String, key: String,
               versionCol: String, keepVersionCol: Boolean) =
      p.upsert(spark, batch, table, key, versionCol, keepVersionCol)
    def compact(spark: SparkSession, table: String, targetBytes: Long) =
      p.compact(spark, table, targetBytes)
    def expireSnapshots(spark: SparkSession, table: String, olderThanMs: Long) =
      p.expireSnapshots(spark, table, olderThanMs)
    def readAt(spark: SparkSession, table: String, version: String) =
      p.readAt(spark, table, version)
    def listVersions(spark: SparkSession, table: String) = p.listVersions(spark, table)
    def renameColumn(spark: SparkSession, table: String, from: String, to: String) =
      p.renameColumn(spark, table, from, to)
    def dropColumn(spark: SparkSession, table: String, column: String) =
      p.dropColumn(spark, table, column)
    def widenColumn(spark: SparkSession, table: String, column: String,
                    to: org.apache.spark.sql.types.DataType) =
      p.widenColumn(spark, table, column, to)
  }

  private def parquetStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Starts query `name`; streams read the upstream tables as file
    * streams, the way the ODS/DWD topics feed the next job. */
  private def start(spark: SparkSession, name: String, dir: String,
                    work: String): StreamingQuery = {
    val in = s"$dir/in"
    name match {
      case "ods_db" =>
        val config = spark.read
          .schema("tbl_db string, tbl_name string, phoenix_tbl_name string, pk_col string, cols string")
          .json(s"$dir/config.jsonl")
        OdsDbIngest.run(spark, Sources.jsonFileStream(spark, s"$in/cdc", Pipelines.cdcSchema),
          config, work)
      case "ods_log" =>
        OdsLogIngest.run(spark, Sources.jsonFileStream(spark, s"$in/log",
          Pipelines.userLogSchema), work)
      case "dim_upsert" =>
        DimUpsert.run(spark, parquetStream(spark, s"$work/topics/dim_envelope"), work)
      case "dwd_login" =>
        DwdRoute.run(spark, parquetStream(spark, Layout.ods(work, "USER_LOGIN"))
          .withColumn("iceberg_ods_tbl_name", lit("ODS_USER_LOGIN"))
          .withColumn("kafka_dwd_topic", lit("KAFKA-DWD-USER-LOGIN-TOPIC")), work)
      case "dwd_browse" =>
        val cleansed = Pipelines.dwdCleanse(
          parquetStream(spark, Layout.ods(work, "BROWSELOG")),
          requiredCols = Seq("user_id"), tsCols = Seq("log_time"))
          .drop("iceberg_ods_tbl_name", "kafka_dwd_topic")
        graft.sinks.Sinks.dualSink(cleansed, Layout.cp(work, "dwd_browse"),
          b => ParquetDirFormat.append(b, Layout.dwd(work, "BROWSELOG")),
          _ => (), triggerMs = 200L)
      case "dws_login" =>
        DwsLoginEnrich.run(spark, parquetStream(spark, Layout.dwd(work, "USER_LOGIN")), work)
      case "dws_browse" =>
        DwsBrowseEnrich.run(spark, parquetStream(spark, Layout.dwd(work, "BROWSELOG")), work)
      case "dm_login" =>
        DmLoginServe.run(spark, parquetStream(spark, Layout.dws(work, "USER_LOGIN")), work,
          DmFormat)
      case "dm_visit" =>
        DmVisitWindow.run(spark, parquetStream(spark, Layout.dws(work, "BROWSE_INFO")), work,
          DmFormat)
    }
  }

  /** Runs the pipeline over the generated inputs in `dir`; the points
    * batch and maintenance run `batchReps` times, each on its own copy of
    * the lake. */
  def run(spark: SparkSession, g: Gen, dir: String, batchReps: Int, trace: Trace,
          corrupt: Boolean): Result = {
    val work = s"$dir/wh"
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"lakebench: etl check failed: $what") }
    }
    val qs = mutable.LinkedHashMap[String, StreamingQuery]()
    val queryIds = mutable.LinkedHashMap[String, String]()

    // every progress report stays on its query, for the source and
    // watermark checks below
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    // 1. drain the pre-landed backlog, each stage in dependency order
    val drainEvents = g.backlogEvents.size + g.dims.size
    val info = mutable.LinkedHashMap[String, Double]()
    val tDrain = Util.now()
    trace.span("etl.drain") {
      Queries.foreach { q =>
        val t = Util.now()
        trace.span(s"etl.drain.$q") {
          qs(q) = start(spark, q, dir, work)
          queryIds(q) = qs(q).id.toString
          qs(q).processAllAvailable()
        }
        info(s"drain_${q}_s") = Util.secs(t)
      }
    }
    val drainS = Util.secs(tDrain)

    // 2. open loop: tick k's files are due at t0 + k * TickMs, whatever
    //    the system is doing; lateness is how far the writer ran behind
    val lateness = mutable.ArrayBuffer[Double]()
    val t0Wall = System.currentTimeMillis() + 200
    val writtenAt = new Array[Long](g.ticks)
    val tOpen = Util.now()
    trace.span("etl.open_loop") {
      for (k <- 0 until g.ticks) {
        val due = t0Wall + k * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        g.tickFiles(k).foreach { case (s, n, t) => Util.writeAtomic(s"$dir/in/$s", n, t) }
        writtenAt(k) = System.currentTimeMillis()
        lateness += (writtenAt(k) - due).toDouble
      }
      info("open_loop_s") = Util.secs(tOpen)
      // settle: every stage catches up, in dependency order; the DM window
      // stage once more, for the batch the flush event's watermark unlocks
      Queries.foreach(qs(_).processAllAvailable())
      qs("dm_visit").processAllAvailable()
    }
    info("settle_s") = Util.secs(tOpen) - info("open_loop_s")
    qs.values.foreach(_.stop())
    qs.values.foreach(q => q.exception.foreach(e => check(ok = false, s"${q.id}: $e")))
    val progress = qs.map { case (q, s) => q -> s.recentProgress.toSeq }.toMap

    // the ODS scans emit every admitted record once: their progress
    // reports count the rows a scan emits after the pushed-down filter
    val rowsIn = Seq("ods_db", "ods_log").flatMap(progress).map(_.numInputRows).sum
    check(rowsIn == g.rowsAdmitted, s"sources: the ODS queries report $rowsIn input rows, " +
      s"want ${g.rowsAdmitted} (${g.dims.size + g.all.size} records generated)")
    val dropped = progress("dm_visit").flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    info ++= Seq("rows_in" -> rowsIn, "rows_admitted" -> g.rowsAdmitted,
      "late_rows_dropped" -> dropped, "late_events" -> g.lateCount, "late_groups" -> g.lateGroups)
      .map { case (k, v) => k -> v.toDouble }
    // Spark counts the rows its stateful operator drops, after partial
    // aggregation has merged the late events of one group in one batch, so
    // the count lies between the late events' groups and the late events;
    // the DM window counts below check that exactly these events were dropped
    check(dropped >= g.lateGroups && dropped <= g.lateCount, s"streaming: the DM window " +
      s"query dropped $dropped rows behind the watermark; ${g.lateCount} late events " +
      s"planted in ${g.lateGroups} groups")

    // freshness: DWS file landing time minus the event's due time
    val fresh = mutable.ArrayBuffer[Double]()
    val dueOf: Map[String, Long] = g.openEvents.flatten.filter(_.valid)
      .map(e => e.id -> (t0Wall + e.tick * TickMs)).toMap
    def landed(table: String, idExpr: org.apache.spark.sql.Column): Seq[(String, String)] =
      spark.read.parquet(Layout.dws(work, table))
        .select(idExpr.as("id"), input_file_name().as("f")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    val logins = landed("USER_LOGIN", col("id"))
    val browse = landed("BROWSE_INFO",
      regexp_extract(col("front_product_url"), "/e/([A-Z0-9]+)$", 1))
    val mtime = mutable.HashMap[String, Long]()
    (logins ++ browse).foreach { case (id, f) =>
      dueOf.get(id).foreach { due =>
        val m = mtime.getOrElseUpdate(f, new java.io.File(new java.net.URI(f)).lastModified())
        fresh += (m - due) / 1000.0
      }
    }

    if (corrupt) dropOneRow(spark, Layout.dws(work, "BROWSE_INFO"))

    // output checks against the planted truth
    def exactlyOnce(name: String, got: Seq[String], want: Set[String]): Unit = {
      val counts = got.groupBy(identity).map { case (k, v) => k -> v.size }
      check(counts.keySet == want && counts.values.forall(_ == 1),
        s"$name: ${counts.size} distinct of ${got.size} landed, want ${want.size}; " +
          s"missing ${(want -- counts.keySet).take(5)}, extra ${(counts.keySet -- want).take(5)}, " +
          s"dups ${counts.filter(_._2 > 1).keys.take(5)}")
    }
    val browseNow = landed("BROWSE_INFO",
      regexp_extract(col("front_product_url"), "/e/([A-Z0-9]+)$", 1)).map(_._1)
    exactlyOnce("dws_login", logins.map(_._1), g.validLogins)
    exactlyOnce("dws_browse", browseNow, g.validBrowse)
    val dm = spark.read.parquet(Layout.dm(work, "dm_product_visit_info"))
      .select(unix_timestamp(col("window_start")), col("first_category_name"),
        col("second_category_name"), col("product_name"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
    check(dm.length == dm.map(_._1).distinct.length && dm.toMap == g.dmCounts,
      s"dm windows: ${dm.length} rows vs ${g.dmCounts.size} expected; " +
        s"diff ${(dm.toSet diff g.dmCounts.toSet).take(3)} / ${(g.dmCounts.toSet diff dm.toSet).take(3)}")

    // 3. the points batch, then maintenance: on the lake and on copies of
    //    it made before either ran; the figures are the medians
    def lakeDirs(w: String): Seq[java.io.File] =
      Option(new java.io.File(s"$w/lake").listFiles()).toSeq.flatten.filter(_.isDirectory)
        .sortBy(_.getName)
    // order-independent row-set hash per table: (rows, sum of row hashes)
    def rowSetHash(): Map[String, (Long, Long)] = lakeDirs(work).map { d =>
      val df = spark.read.parquet(d.getPath)
      df.select(lit(d.getName).as("t"), xxhash64(df.columns.map(col): _*).as("h"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val filesBefore = lakeDirs(work).map(d => Util.dataFiles(d.getPath).size).sum
    val pointsFilesRead = Util.dataFiles(Layout.dws(work, "BROWSE_INFO")).size
    val etlBytes = lakeDirs(work).map(d => Util.bytesUnder(d.getPath)).sum
    val hashBefore = rowSetHash()
    val copies = (1 until batchReps).map { i =>
      Util.copyTree(s"$work/lake", s"$dir/batch$i/lake"); s"$dir/batch$i"
    }
    val batches = (work +: copies).map { w =>
      val tPts = Util.now()
      val pts = trace.span("apps.user_points")(UserPointsBatch.run(spark, w).collect())
      val pointsS = Util.secs(tPts)
      val got = pts.map(r =>
        (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      check(got == g.points, s"user points: ${got.size} groups vs ${g.points.size}")
      val tMaint = Util.now()
      val compacted = trace.span("maintenance.run")(MaintenanceJob.run(spark, w))
      (pointsS, Util.secs(tMaint), compacted)
    }
    val pointsS = Util.median(batches.map(_._1))
    val maintenanceS = Util.median(batches.map(_._2))
    val batchS = Util.median(batches.map(b => b._1 + b._2))
    val compacted = batches.head._3
    val hashAfter = rowSetHash()
    check(hashBefore == hashAfter, s"row sets changed across maintenance: " +
      s"${hashBefore.toSet.diff(hashAfter.toSet).take(2)}")

    val layer = mutable.LinkedHashMap[String, Double]()
    if (trace.on) {
      layer ++= streamingLayer(trace, queryIds.toMap, g, writtenAt)
      layer("sinks.etl_files_written") = filesBefore
      layer("sinks.etl_bytes_written") = etlBytes
      val up = trace.spanStats("apps.user_points")
      layer("apps.user_points.run_core_s") = up.per(up.tasks.runCoreS)
      layer("apps.user_points.files_read") = pointsFilesRead
      layer("maintenance.files_before") = compacted.map(_._2).sum
      layer("maintenance.files_after") = compacted.map(_._3).sum
      val mt = trace.spanStats("maintenance.run")
      layer("maintenance.bytes_rewritten") = mt.per(mt.tasks.bytesWritten.toDouble)
      // each compacted table leaves one pre-rewrite snapshot, which the
      // job's expiry step removes
      layer("maintenance.snapshots_expired") = compacted.count { case (d, b, a) =>
        b != a && Option(new java.io.File(d).list()).toSeq.flatten.forall(!_.startsWith("_snap_"))
      }
    }
    Result(drainEvents / drainS, fresh.toSeq, Util.bytesUnder(s"$dir/in", ".json").toDouble,
      lakeDirs(work).map(d => Util.bytesUnder(d.getPath)).sum.toDouble, pointsS, maintenanceS,
      batchS, lateness.toSeq, info.toMap, attempted, failed, layer.toMap)
  }

  /** Corruption for the self-check: drop one row of a DWS table. */
  private def dropOneRow(spark: SparkSession, table: String): Unit = {
    val (f, rows) = Util.dataFiles(table).iterator
      .map(f => f -> spark.read.parquet(f.getPath).collect()).find(_._2.nonEmpty).get
    val tmp = f.getPath + ".rewrite"
    spark.createDataFrame(spark.sparkContext.parallelize(rows.drop(1).toSeq, 1),
      rows.head.schema).write.parquet(tmp)
    f.delete()
    new java.io.File(f.getParent, s".${f.getName}.crc").delete() // no longer matches
    java.nio.file.Files.move(Util.dataFiles(tmp).head.toPath, f.toPath)
    Util.deleteTree(new java.io.File(tmp))
  }

  /** Per-query and across-query streaming counts from the progress events. */
  private def streamingLayer(trace: Trace, ids: Map[String, String], g: Gen,
                             writtenAt: Array[Long]): Map[String, Double] = {
    trace.drain()
    val out = mutable.LinkedHashMap[String, Double]()
    val prog = trace.progress.toSeq
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val byQ = prog.groupBy(_.id.toString)
    Queries.foreach { q =>
      val ps = byQ.getOrElse(ids(q), Nil).filter(_.numInputRows > 0)
      out(s"streaming.$q.trigger_ms_p50") = Util.median(ps.map(d(_, "triggerExecution")))
      out(s"streaming.$q.run_core_s") = trace.queryStats(ids(q)).runCoreS
    }
    val busy = prog.filter(_.numInputRows > 0)
    out("streaming.batches") = busy.size
    val trig = busy.map(d(_, "triggerExecution")).sum
    out("streaming.plan_ms_share") = busy.map(d(_, "queryPlanning")).sum / trig
    out("streaming.commit_ms_share") =
      busy.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum / trig
    out("streaming.idle_share") = prog.count(_.numInputRows == 0).toDouble / math.max(1, prog.size)
    val state = prog.flatMap(_.stateOperators)
    out("streaming.state_rows_max") = if (state.isEmpty) 0 else state.map(_.numRowsTotal).max
    out("streaming.state_bytes_max") = if (state.isEmpty) 0 else state.map(_.memoryUsedBytes).max
    out("streaming.late_rows_dropped") = state.map(_.numRowsDroppedByWatermark).sum
    out("streaming.shuffle_bytes") = trace.allStreaming().shuffleWrite
    val ods = Seq("ods_db", "ods_log").flatMap(q => byQ.getOrElse(ids(q), Nil))
    out("sources.rows_in") = ods.map(_.numInputRows).sum
    out("sources.rows_admitted") = g.rowsAdmitted
    out("sources.rows_generated") = g.dims.size + g.all.size
    out("sources.offset_ms_p50") = Util.median(ods.filter(_.numInputRows > 0)
      .map(p => d(p, "latestOffset") + d(p, "getBatch")))
    // backlog: open-loop files the generator had written that the ODS
    // query had not consumed yet, at each of its progress events
    def backlogMax(q: String, kind: String, fixed: Int): Double = {
      val perTick = (0 until g.ticks).map(k => g.tickFiles(k)
        .count(_._1 == (if (kind == "login") "cdc" else "log")))
      val evPerTick = (0 until g.ticks).map(k => g.openEvents(k).count(_.kind == kind))
      val meanPerFile = math.max(1.0, evPerTick.sum.toDouble / math.max(1, perTick.sum))
      var consumed = 0L
      byQ.getOrElse(ids(q), Nil).sortBy(_.batchId).map { p =>
        consumed += p.numInputRows
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        val written = (0 until g.ticks).filter(k => writtenAt(k) > 0 && writtenAt(k) <= at)
          .map(perTick).sum
        written - math.max(0L, consumed - fixed) / meanPerFile
      }.foldLeft(0.0)(math.max)
    }
    out("sources.backlog_files_max") = math.max(
      backlogMax("ods_db", "login", g.dims.size + g.backlogEvents.count(_.kind == "login")),
      backlogMax("ods_log", "browse", g.backlogEvents.count(_.kind == "browse")))
    out.toMap
  }
}
