package mrbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.clients.Search
import graft.sources.DirListing
import org.apache.spark.mrbench.Bus

/** One benchmark run: a single client thread sends requests to the
  * program's public entry points in a closed loop, in one JVM with one
  * SparkSession.
  *
  * A pass runs every request type of the workload once, in an order
  * permuted by the seed. Set-up is the first (cold) pass over an empty
  * index store, timed from JVM start, so it carries session start, the
  * first table opens, codegen and every index build. `warmup` untimed
  * passes follow, then `passes` timed ones.
  *
  * `run.py` writes the plan file this reads and checks the results
  * this writes (see README.md). */
object Main {

  final case class Req(kind: String, pass: Int, id: String, start: Double,
      buildEnd: Double, end: Double)

  final case class Failure(kind: String, pass: Int, cause: String)

  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val mem = ManagementFactory.getMemoryMXBean
  private def jitMs: Double = jit.getTotalCompilationTime.toDouble
  private def gcMs: Double = gcs.map(_.getCollectionTime).sum.toDouble
  private def cpuMs: Double = os.getProcessCpuTime / 1e6

  // Epoch milliseconds from the monotonic clock, on the time base the
  // Spark listener events use.
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties
    val in = new FileInputStream(args(0))
    try plan.load(in) finally in.close()
    def prop(k: String): String =
      Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    def list(k: String): Seq[String] = prop(k).split(",").toSeq.filter(_.nonEmpty)

    val data = prop("data")
    val seed = prop("seed").toLong
    val passes = prop("passes").toInt
    val trace = prop("trace") == "1"
    val cpus = prop("cpus").toInt
    val warmup = prop("warmup").toInt
    val out = new File(prop("out"))
    val indexDir = new File(sys.env("GRAFT_INDEX_DIR"))
    val queries = list("queries")
    val dirs = list("search.dirs")
    val needles = list("search.needles").map { s =>
      val Array(level, needle) = s.split(":", 2); level -> needle }.toMap
    val types = queries ++ (for (f <- list("search.forms");
      level <- needles.keys.toSeq.sorted) yield s"search_$f.$level")

    val registry = SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
    }

    def build(kind: String): DataFrame = {
      import spark.implicits._
      kind.split("\\.", 2) match {
        case Array("search_mr", level) =>
          Search.viaMapReduce(DirListing(spark, dirs).as[(String, String)],
            needles(level)).toDF()
        case Array("search_df", level) =>
          val listing = spark.read.format("graft.sources.ListingSource")
            .option("paths", dirs.mkString(",")).load()
          Search.dataframe(listing, "dir", "name", needles(level))
        case _ => registry(kind)(spark, data)
      }
    }

    val reqs = mutable.ArrayBuffer.empty[Req]
    val failures = mutable.ArrayBuffer.empty[Failure]
    // First successful result of each type: its digest is the one every
    // later request must reproduce, and its rows go to the outside checks.
    val reference = mutable.LinkedHashMap.empty[String, (String, Array[Row], StructType)]
    var mismatches = 0
    val passLog = mutable.ArrayBuffer.empty[String]

    def request(kind: String, pass: Int): Unit = {
      val id = s"r${reqs.size + failures.size}"
      sc.setJobGroup(id, kind)
      val t0 = nowMs
      try {
        val df = build(kind)
        val t1 = nowMs
        val rows = df.collect()
        val t2 = nowMs
        val d = Digest(rows)
        reference.get(kind) match {
          case Some((ref, _, _)) =>
            if (ref != d) {
              mismatches += 1
              println(s"[mrbench] MISMATCH $kind pass $pass: digest $d, expected $ref")
            }
          case None => reference(kind) = (d, rows, df.schema)
        }
        reqs += Req(kind, pass, id, t0, t1, t2)
      } catch {
        case NonFatal(e) =>
          val cause = s"${e.getClass.getName}: ${e.getMessage}"
          failures += Failure(kind, pass, cause)
          println(s"[mrbench] FAILED $kind pass $pass: $cause")
      } finally sc.clearJobGroup()
      spark.catalog.clearCache()
    }

    def runPass(pass: Int, label: String): Unit = {
      val order = new Random(seed * 1000003L + pass).shuffle(types)
      val (w0, j0, g0) = (nowMs, jitMs, gcMs)
      order.foreach(request(_, pass))
      passLog += f"$label%-8s pass $pass%2d: wall ${nowMs - w0}%8.0f ms, " +
        f"jit ${jitMs - j0}%7.0f ms, gc ${gcMs - g0}%6.0f ms"
    }

    // --- set-up and warm-up -------------------------------------------------
    runPass(0, "setup")
    val setupEnd = nowMs
    val setupS = (setupEnd -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    for (p <- 1 to warmup) runPass(p, "warmup")

    // --- timed phase -----------------------------------------------------
    val firstTimed = reqs.size
    val firstPass = warmup + 1
    val (cpu0, jit0, gc0, t0) = (cpuMs, jitMs, gcMs, nowMs)
    for (p <- firstPass until firstPass + passes) runPass(p, "timed")
    val (cpu1, jit1, gc1, t1) = (cpuMs, jitMs, gcMs, nowMs)
    val timed = reqs.drop(firstTimed).toSeq
    val timedFailed = failures.count(_.pass >= firstPass)
    val attempted = timed.size + timedFailed

    // --- memory and index state ------------------------------------------
    // Broadcast and checkpoint blocks whose references a GC frees are
    // removed by Spark's ContextCleaner thread afterwards, so collect a
    // fixed number of times and keep the lowest heap in use seen.
    def heapAfterGc(): Double =
      (1 to 6).map { _ =>
        System.gc()
        Thread.sleep(150)
        mem.getHeapMemoryUsage.getUsed / 1e6
      }.min
    val heapRetained = heapAfterGc()
    // The store starts empty, so every artifact in it was built here.
    val artifactsPublished = Files.artifacts(indexDir)
    val storeMb = Files.bytes(indexDir) / 1e6

    // --- per-layer probes and trace (traced runs only) ---------------------
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (trace) {
      def medianMs(n: Int)(f: => Unit): Double =
        Stats.median((1 to n).map { _ => val a = nowMs; f; nowMs - a })
      layers("sources.listing_ms") = (medianMs(5)(DirListing(spark, dirs)
        .collect()), "ms")
      for (form <- Seq("mr", "df")) {
        val samples = timed.filter(_.kind.startsWith(s"search_$form."))
          .map(r => r.end - r.start)
        val v = if (samples.nonEmpty) Stats.median(samples)
          else Stats.median(needles.keys.toSeq.sorted.flatMap { level =>
            (1 to 3).map { _ =>
              val a = nowMs
              build(s"search_$form.$level").collect()
              nowMs - a
            }
          })
        layers(s"core.search_${form}_ms") = (v, "ms")
      }
      Bus.drain(sc)
      val rec = recorder.get
      layers ++= Layers.perRequest(rec, timed, cpus)
      val n = timed.size.max(1)
      layers("jvm.jit_ms") = ((jit1 - jit0) / n, "ms")
      layers("jvm.gc_pause_ms") = ((gc1 - gc0) / n, "ms")
      val indexJobs = rec.jobs.filter(j => j.kind == JobKind.Index && j.end >= 0)
        .map(_.span)
      layers("index.builds") = (artifactsPublished.toDouble, "count")
      layers("index.build_ms") = (Span.covered(indexJobs, Span(0, setupEnd)), "ms")
      layers("index.store_mb") = (storeMb, "MB")
      graft.llm.Similarity.releaseStandingIndexes()
      layers("index.standing_heap_mb") = (heapRetained - heapAfterGc(), "MB")
      Layers.writeSpans(new File(out, "spans.jsonl"), rec, reqs.toSeq)
      println(Layers.selfTimeTable(rec, timed))
    }
    passLog.foreach(l => println(s"[mrbench] $l"))

    // --- results for the outside checks ------------------------------------
    for ((kind, (_, rows, schema)) <- reference if registry.contains(kind)) {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(out, s"check/$kind").getPath)
    }
    val sw = new PrintWriter(new File(out, "search.tsv"), "UTF-8")
    try for ((kind, (_, rows, _)) <- reference if kind.startsWith("search_"))
      sw.println(kind + "\t" + rows.map(_.getString(0)).mkString("\u001f"))
    finally sw.close()

    // --- end-to-end metrics --------------------------------------------------
    val byType = timed.groupBy(_.kind).map { case (_, rs) =>
      Stats.median(rs.map(r => r.end - r.start)) }
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "queries_per_s" -> (timed.size / ((t1 - t0) / 1000.0), "1/s"),
      "query_geomean_ms" -> (Stats.geomean(byType.toSeq), "ms"),
      "cpu_ms_per_query" -> ((cpu1 - cpu0) / timed.size.max(1), "ms"),
      "heap_retained_mb" -> (heapRetained, "MB"))
    val metrics = if (trace) layers.toSeq else e2e
    Files.write(new File(out, "jvm_result.json"), Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> timedFailed.toString,
      "untimed_failed" -> failures.count(_.pass < firstPass).toString,
      "digest_mismatches" -> mismatches.toString,
      "failures" -> Json.arr(failures.toSeq.map(f =>
        Json.str(s"${f.kind} pass ${f.pass}: ${f.cause}"))),
      "e2e" -> Json.obj(e2e.map { case (k, (v, _)) => k -> Json.num(v) }),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Order-sensitive SHA-256 over every column of every collected row.
  * Doubles and floats enter by their bits, binaries by their bytes. */
object Digest {
  def apply(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    def put(v: Any): Unit = v match {
      case null => sb.append("\u0000N")
      case d: Double => sb.append('d').append(java.lang.Double.doubleToRawLongBits(d))
      case f: Float => sb.append('f').append(java.lang.Float.floatToRawIntBits(f))
      case b: Array[Byte] => sb.append('b'); b.foreach(x => sb.append(x.toInt).append(','))
      case r: Row => sb.append('('); r.toSeq.foreach { x => put(x); sb.append(';') }; sb.append(')')
      case m: scala.collection.Map[_, _] =>
        sb.append('{'); m.toSeq.map { case (k, x) => (String.valueOf(k), x) }
          .sortBy(_._1).foreach { case (k, x) => sb.append(k).append('='); put(x); sb.append(';') }
        sb.append('}')
      case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => put(x); sb.append(';') }; sb.append(']')
      case o => sb.append(o.getClass.getSimpleName).append(':').append(o.toString)
    }
    rows.foreach { r =>
      sb.setLength(0); put(r); sb.append('\n')
      md.update(sb.toString.getBytes(UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

object Files {
  /** Published index artifacts: directories holding a `_SUCCESS` marker. */
  def artifacts(d: File): Int = {
    def walk(f: File): Int =
      if (new File(f, "_SUCCESS").isFile) 1
      else Option(f.listFiles()).map(_.filter(_.isDirectory).map(walk).sum).getOrElse(0)
    walk(d)
  }
  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
  def write(f: File, s: String): Unit =
    java.nio.file.Files.writeString(f.toPath, s, UTF_8)
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Writes every registered DuckDB twin to a JSON file. Run once per
  * build: `SparkEntry.oracleSql` rewrites all of them on each call,
  * which takes longer than a benchmark run can spare. */
object Oracles {
  def main(args: Array[String]): Unit =
    Files.write(new File(args(0)), Json.obj(SparkEntry.oracleSql.toSeq
      .sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
}
