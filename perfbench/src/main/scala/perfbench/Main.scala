package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Dedup, Ops}
import graft.streaming.Streams

case class DocRow(doc_id: Long, text: String)
case class EvRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One benchmark run in one JVM: set up a graft session, run a workload,
  * write the raw record (`raw.json`) that `run.py` turns into metrics.
  *
  * Untraced runs register no listener. A traced run (`--trace 1`) records
  * Spark's listener events on every other warm pass only, so the untraced
  * passes of the same process give the tracing overhead.
  *
  * Arguments (all required, `--name value`): workload, data, out, seconds,
  * trace, t0 (epoch seconds at process start), and for batch workloads
  * `queries` (comma-separated registry names); for ingest `docs_rate`,
  * `events_rate` and `warmup`.
  */
object Main {
  def now(): Double = { val i = Instant.now(); i.getEpochSecond + i.getNano / 1e9 }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0").toDouble
    val before = now()
    val spark = GraftSession.local("4", "perfbench")
    val startMs = (now() - before) * 1e3
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = now() - t0
    val traced = a("trace") == "1"
    val out = Map("setup_s" -> setupS, "start_ms" -> startMs)
    val rec = new Recorder(spark)
    val body = a("workload") match {
      case "ingest" => new Ingest(spark, a, rec, traced).run()
      case _ => new Batch(spark, a, rec, traced).run()
    }
    spark.stop()
    val all = out ++ body ++ (if (traced) Map("trace" -> rec.record) else Map.empty)
    writeJson(s"${a("out")}/raw.json", all)
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Write `v` (maps, sequences, strings and numbers) as JSON to `path`. */
  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val collectors = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.toSeq

  /** Per-thread CPU nanoseconds of the JVM's Java threads and the
    * collectors' summed collection milliseconds at one instant. */
  final case class CpuMark(threadNs: Map[Long, Long], gcMs: Long)

  private def gcMs(): Long = collectors.map(_.getCollectionTime).filter(_ > 0).sum

  def cpuMark(): CpuMark = {
    val ids = threads.getAllThreadIds
    CpuMark(ids.zip(threads.getThreadCpuTime(ids)).toMap, gcMs())
  }

  /** Seconds since `mark` of Java-thread CPU (tasks, driver, Spark's
    * services; a thread that ended in between is not counted) plus the
    * time the garbage collectors report, so allocation churn shows. The
    * JIT compiler's threads are left out: in a young JVM their share
    * swings with warm-up and with how busy the host is. */
  def cpuSince(mark: CpuMark): Double = {
    val now = cpuMark()
    now.threadNs.map { case (id, ns) => math.max(0L, ns - mark.threadNs.getOrElse(id, 0L)) }
      .sum / 1e9 + (now.gcMs - mark.gcMs) / 1e3
  }

  def usedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** The relational workload: a cold pass whose outputs are kept
  * for the correctness check, then warm passes through the noop sink until
  * `seconds` have passed. */
class Batch(spark: SparkSession, a: Map[String, String], rec: Recorder, traced: Boolean) {
  import Main.now
  private val sc = spark.sparkContext
  private val dir = a("data")
  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  private val queries = a("queries").split(',').toSeq.map(q => q -> SparkEntry.queries(q))
  private val execs = ArrayBuffer.empty[Map[String, Any]]

  private def graftTmp(): Set[java.io.File] =
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")).toSet

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** One query: closure (plan build and eager actions), then the write.
    * Untimed afterwards: leak counts, heap after a full GC, release. */
  private def execute(pass: Int, name: String, fn: (SparkSession, String) => DataFrame,
      sink: Option[String], tracedPass: Boolean): Double = {
    val tmpBefore = graftTmp()
    val span = s"$pass/$name"
    sc.setLocalProperty(Recorder.SpanKey, s"$span/closure")
    val cpu0 = Main.cpuMark()
    val t0 = now()
    var t1 = t0
    var error: String = null
    try {
      val df = fn(spark, dir)
      t1 = now()
      sc.setLocalProperty(Recorder.SpanKey, s"$span/write")
      sink match {
        case Some(p) => df.write.mode("overwrite").parquet(p)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    } catch { case NonFatal(e) =>
      error = String.valueOf(e.getMessage).take(300)
    }
    val t2 = now()
    val cpu = Main.cpuSince(cpu0)
    sc.setLocalProperty(Recorder.SpanKey, null)
    val pinned = sc.getPersistentRDDs.size
    val storedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val leftDirs = graftTmp() -- tmpBefore
    val heap = Main.usedHeapMb()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    leftDirs.foreach(delete)
    execs += Map("pass" -> pass, "query" -> name, "start" -> t0, "built" -> t1,
      "end" -> t2, "cpu_s" -> cpu, "error" -> error, "traced" -> tracedPass, "pinned_left" -> pinned,
      "tempdirs_left" -> leftDirs.size, "stored_mb" -> storedMb, "heap_mb" -> heap)
    t2 - t0
  }

  private def pass(i: Int, sink: String => Option[String]): Unit = {
    val tracedPass = traced && i % 2 == 0
    if (tracedPass) rec.start()
    queries.foreach { case (q, fn) => execute(i, q, fn, sink(q), tracedPass) }
    if (tracedPass) rec.stop()
  }

  def run(): Map[String, Any] = {
    // pass 0 is the cold pass; its outputs are written for the check
    pass(0, q => Some(s"${a("out")}/check/$q"))
    Main.writeJson(s"${a("out")}/oracle_sql.json",
      queries.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap)
    // at least three warm passes: in a traced run untraced (still warming
    // up), traced, untraced, so the overhead compares passes 2 and 3
    val deadline = now() + a("seconds").toDouble
    var i = 1
    while (now() < deadline || i < 4) { pass(i, _ => None); i += 1 }
    Map("execs" -> execs.toSeq)
  }
}

/** The streaming workload: documents and events fed open loop at fixed
  * rates into two standing queries — near-duplicate filtering against a
  * corpus SimHash index, and watermarked event dedup. */
class Ingest(spark: SparkSession, a: Map[String, String], rec: Recorder, traced: Boolean) {
  import Main.now
  import spark.implicits._
  private val dir = a("data")

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val docs = spark.read.parquet(s"$dir/stream_docs.parquet").as[DocRow].collect()
    val events = spark.read.parquet(s"$dir/stream_events.parquet").as[EvRow].collect()
    val coldCpu = Main.cpuMark()
    val coldStart = now()
    val index = Dedup.simhashBandIndex(
      Dedup.simhashTable(Tables.documents(spark, dir), "doc_id", "text")).persist()
    index.count()
    val indexBuilt = now()

    // a source of `cores` partitions, like a topic: each micro-batch reads
    // four splits however many feed calls it spans
    val docMem = MemoryStream[DocRow](spark, 4)
    val evMem = MemoryStream[EvRow](spark, 4)
    val docOut = ArrayBuffer.empty[Long]
    val evOut = ArrayBuffer.empty[Long]
    val ckpt = s"${a("out")}/checkpoints"
    val docQ = Streams.dropNearDupsStreamBulk(docMem.toDF(), "doc_id", "text", index) { b =>
      docOut ++= b.select("doc_id").as[Long].collect()
    }.queryName("docs").option("checkpointLocation", s"$ckpt/docs").start()
    val evQ = Streams.streamingDedup(evMem.toDF(), Seq("event_id"), "10 minutes")
      .writeStream.queryName("events").outputMode("append")
      .option("checkpointLocation", s"$ckpt/events")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        evOut ++= b.select("event_id").as[Long].collect()
        ()
      }.start()

    // Cold: the first small micro-batch of each stream, run to completion
    // (stream planning, codegen and state-store set-up happen here).
    val (docs0, ev0) = (10, 40)
    docMem.addData(docs.take(docs0).toSeq)
    evMem.addData(events.take(ev0).toSeq)
    docQ.processAllAvailable()
    evQ.processAllAvailable()
    val coldEnd = now()
    val coldCpuS = Main.cpuSince(coldCpu)

    // Open loop: row i of a stream is due at feedStart + i / rate, whatever
    // the queries are doing. Warm-up rows are fed first; rows due inside
    // the measurement window are the ones whose latency counts.
    val warmup = a("warmup").toDouble
    val seconds = a("seconds").toDouble
    val docsRate = a("docs_rate").toDouble
    val evRate = a("events_rate").toDouble
    val feedCpu = Main.cpuMark()
    val feedStart = now() + 0.05
    val feedEnd = feedStart + warmup + seconds
    case class Feed(name: String, first: Int, n: Int, rate: Double, add: (Int, Int) => Long) {
      var next = first
      val adds = ArrayBuffer.empty[Map[String, Any]]
      def due(i: Int): Double = feedStart + (i - first) / rate
      def pump(t: Double): Unit = {
        var hi = next
        while (hi < n && due(hi) <= t) hi += 1
        if (hi > next) {
          val off = add(next, hi)
          adds += Map("offset" -> off, "first" -> next, "until" -> hi, "at" -> now())
          next = hi
        }
      }
    }
    val nDocs = math.min(docs.length, docs0 + (docsRate * (warmup + seconds)).toInt)
    val nEv = math.min(events.length, ev0 + (evRate * (warmup + seconds)).toInt)
    val feeds = Seq(
      Feed("docs", docs0, nDocs, docsRate,
        (lo, hi) => docMem.addData(docs.slice(lo, hi).toSeq).json().toLong),
      Feed("events", ev0, nEv, evRate,
        (lo, hi) => evMem.addData(events.slice(lo, hi).toSeq).json().toLong))
    val measureStart = feedStart + warmup
    val tracedFrom = if (traced) measureStart + seconds / 2 else Double.MaxValue
    var tracing = false
    while (feeds.exists(f => f.next < f.n)) {
      val t = now()
      if (!tracing && t >= tracedFrom) { rec.start(); tracing = true }
      feeds.foreach(_.pump(t))
      val nextDue = feeds.filter(f => f.next < f.n).map(f => f.due(f.next)).minOption
      nextDue.foreach(d => Thread.sleep(math.max(0L, ((d - now()) * 1000).toLong)))
    }
    docQ.processAllAvailable()
    evQ.processAllAvailable()
    val drained = now()
    val ingestCpu = Main.cpuSince(feedCpu)
    if (tracing) rec.stop()
    val progress = Seq(docQ, evQ).flatMap(_.recentProgress.toSeq.map(Recorder.progress))
    docQ.stop()
    evQ.stop()
    // after the stop, so no watermark-only batch is in flight; the index
    // is still pinned
    val heap = Main.usedHeapMb()

    // untimed check against the batch twins, on exactly the rows fed
    val fedDocs = docs.take(nDocs).toSeq.toDF()
    val wantDocs = Streams.dropNearDupsBatch(fedDocs, "doc_id", "text", index)
      .select("doc_id").as[Long].collect().toSet
    val fedEv = events.take(nEv).toSeq.toDF()
    val wantEv = Ops.dropDuplicates(fedEv, Seq("event_id"), "any")
      .select("event_id").as[Long].collect().toSet
    index.unpersist()
    val checks = Seq(
      Map("name" -> "docs", "ok" -> (docOut.toSet == wantDocs && docOut.size == wantDocs.size),
        "got" -> docOut.size, "want" -> wantDocs.size),
      Map("name" -> "events", "ok" -> (evOut.toSet == wantEv && evOut.size == wantEv.size),
        "got" -> evOut.size, "want" -> wantEv.size))
    Map("cold_start" -> coldStart, "index_built" -> indexBuilt, "cold_end" -> coldEnd,
      "cold_cpu_s" -> coldCpuS,
      "measure_start" -> measureStart,
      "feed_end" -> feedEnd, "traced_from" -> (if (traced) tracedFrom else -1.0),
      "drained" -> drained, "ingest_cpu_s" -> ingestCpu, "heap_mb" -> heap, "progress" -> progress, "checks" -> checks,
      "feeds" -> feeds.map(f => Map("name" -> f.name, "first" -> f.first, "n" -> f.n,
        "rate" -> f.rate,
        "start" -> feedStart, "adds" -> f.adds.toSeq)))
  }
}
