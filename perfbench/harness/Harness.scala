package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM side of the benchmark: one process, one session on
  * `local[cores]`, one operation at a time.
  *
  * A run builds the session and resolves the input tables (set-up), makes
  * one cold pass over the operations, then runs warm rounds over them until
  * `seconds` of warm time have passed, finishing the round in progress,
  * and at least `MinRounds` rounds.
  * Each operation is a `graft.SparkEntry.queries` plan executed to the
  * `noop` sink. Between operations the run quiesces off the clock, the way
  * `graft.Bench` does. Last, off the clock, it writes every operation's
  * output as parquet, with its oracle SQL, for the DuckDB check. It writes
  * raw per-execution records to `<out>/raw.json`; all aggregation happens
  * in `stats.py`.
  *
  *   perfbench.Harness input=DIR out=DIR scratch=DIR ops=q01_x,q03_y
  *     cores=4 seconds=6 trace=0|1 spawn_ms=EPOCH_MS
  */
object Harness {
  /** Warm rounds a run makes at least: with three, each operation's median
    * can drop one round that a slow spell of the host hit. */
  val MinRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val input = opt("input")
    val out = new File(opt("out"))
    val scratch = new File(opt("scratch"))
    val ops = opt("ops").split(",").toSeq
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spawnMs = opt("spawn_ms").toLong
    out.mkdirs()

    val unknown = ops.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown operations: ${unknown.mkString(",")}")
    val fns = ops.map(n => n -> graft.SparkEntry.queries(n))

    // Every scratch path the program creates stays under `scratch`.
    Scratch.pin(scratch)

    val marks = Vector.newBuilder[String]
    def mark(name: String): Unit =
      marks += s""""$name":${(System.currentTimeMillis() - spawnMs) / 1e3}"""

    // --- set-up: session, then input tables ---
    val t0 = System.nanoTime()
    val extra = Map(
      "spark.sql.warehouse.dir" -> new File(scratch, "warehouse").getAbsolutePath,
      "spark.local.dir" -> new File(scratch, "local").getAbsolutePath) ++
      (if (traced) Trace.sessionConf else Map.empty)
    val spark = graft.core.Sessions.local(appName = "perfbench", cores = cores,
      extraConf = extra)
    val t1 = System.nanoTime()
    graft.core.Tables.names.foreach(n => graft.core.Tables.load(spark, input, n))
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3
    mark("setup")
    if (traced) Trace.install(spark)

    val records = Vector.newBuilder[String]
    def execute(name: String, fn: (SparkSession, String) => DataFrame,
                phase: String, round: Int): Unit = {
      if (traced) Trace.begin()
      val jit0 = Jvm.jitMs; val gc0 = Jvm.gcMs
      val startMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val err = try {
        fn(spark, input).write.format("noop").mode("overwrite").save(); None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - s) / 1e9
      val endMs = System.currentTimeMillis()
      val jit = Jvm.jitMs - jit0; val gc = Jvm.gcMs - gc0
      val tr = if (traced) Trace.end(spark, startMs, endMs) +
        s""","jit_s":${jit / 1e3},"gc_s":${gc / 1e3}""" else ""
      err.foreach(e => System.err.println(s"[perfbench] $name ($phase) failed: $e"))
      records += s"""{"op":${Json.str(name)},"phase":"$phase","round":$round,"wall_s":$wall,""" +
        s""""ok":${err.isEmpty},"error":${err.map(Json.str).getOrElse("null")},"trace":{$tr}}"""
      quiesce(spark)
    }

    fns.foreach { case (n, fn) => execute(n, fn, "cold", 0) }
    mark("cold")
    val warmStart = System.nanoTime()
    var round = 0
    while (round < MinRounds || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      round += 1
      fns.foreach { case (n, fn) => execute(n, fn, "warm", round) }
    }
    val vmHwmKb = Jvm.vmHwmKb
    mark("warm")

    // Off the clock: every operation's output and its oracle SQL.
    val dumpDir = new File(out, "dump")
    dumpDir.mkdirs()
    val sql = ops.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(q => s"${Json.str(n)}:${Json.str(q)}"))
    val w = new PrintWriter(new File(dumpDir, "oracle_sql.json"))
    w.println(sql.mkString("{", ",", "}"))
    w.close()
    fns.foreach { case (n, fn) =>
      try fn(spark, input).write.mode("overwrite").parquet(new File(dumpDir, n).getPath)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n (dump) failed: ${e.getMessage}")
      }
      quiesce(spark, gc = false)
    }
    mark("dump")

    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-X") || a.startsWith("-XX")).map(Json.str).mkString(",")
    val raw = new PrintWriter(new File(out, "raw.json"))
    raw.println(s"""{"setup_s":$setupS,"session_s":${(t1 - t0) / 1e9},"tables_s":${(t2 - t1) / 1e9},""" +
      s""""vm_hwm_kb":$vmHwmKb,"cores":$cores,"jvm_flags":[$flags],""" +
      s""""spark":${Json.str(spark.version)},"marks":${marks.result().mkString("{", ",", "}")},""" +
      s""""execs":[""")
    raw.println(records.result().mkString(",\n"))
    raw.println("]}")
    raw.close()

    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    quiesce(spark, gc = false)
    spark.stop()
  }

  /** Off-clock reset between operations, as `graft.Bench` does: stop
    * state stores, drop caches and persisted RDDs, and collect garbage so
    * the ContextCleaner frees broadcast and shuffle blocks. */
  def quiesce(spark: SparkSession, gc: Boolean = true): Unit = {
    try org.apache.spark.sql.graft.Bridge.stopStateStores() catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    if (gc) System.gc()
  }
}

/** JVM counters read around each operation. */
object Jvm {
  private val compile = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def jitMs: Long = if (compile.isCompilationTimeMonitoringSupported) compile.getTotalCompilationTime else 0L
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this process (VmHWM), in KiB; -1 where the
    * kernel does not report it. */
  def vmHwmKb: Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }
}

/** Keeps the program's scratch root (`graft.core.Scratch`) inside the
  * benchmark's own directory. The program prefers a RAM disk when one is
  * present; the benchmark must write only inside its checkout, so it sets
  * the lazily computed root before first use and then checks that a
  * fresh scratch directory lands where it should. */
object Scratch {
  def pin(dir: File): Unit = {
    dir.mkdirs()
    val cls = graft.core.Scratch.getClass
    val root = cls.getDeclaredField("root")
    root.setAccessible(true)
    root.set(null, dir.getAbsoluteFile.toPath)
    val bitmap = cls.getDeclaredField("bitmap$0")
    bitmap.setAccessible(true)
    bitmap.setByte(null, (bitmap.getByte(null) | 1).toByte)
    val probe = graft.core.Scratch.tempDir("graft_perfbench_probe")
    val inside = probe.toAbsolutePath.startsWith(dir.getAbsoluteFile.toPath)
    java.nio.file.Files.delete(probe)
    require(inside, s"scratch root could not be pinned (probe landed at $probe)")
  }
}

object Json {
  def str(v: String): String = {
    val sb = new StringBuilder("\"")
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
