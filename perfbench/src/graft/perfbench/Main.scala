package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.profile.{ProfileConfig, ProfileJson, Profiler}

/** The benchmark's JVM side. `perfbench/run.py` builds this together with
  * graft's sources and launches it; it never runs on its own.
  *
  * It sets up a session, registers graft's functions, then runs one
  * workload's operations once each in the fresh JVM: three families,
  * slots a, b and c, in that order (closed loop, one operation at a time,
  * parquet or JSON sink). The checks read those outputs; result.json
  * holds the set-up phases, every operation's wall and CPU time and, with
  * --trace 1, the per-layer split of each slot.
  *
  * graft is called only through public entry points:
  * Profiler.profile / ProfileConfig / ProfileJson.toJson, and
  * SparkEntry.queries looked up by name, with SessionCache.clearAll()
  * before the round. */
object Main {

  /** One operation's timed parts: the call (construct) and the action
    * that forces it (the parquet write of a query's result, or the JSON
    * render of a profile, which the checks read). */
  final case class Timed(constructS: Double, actionS: Double,
      json: Option[String])

  final case class Op(name: String, run: () => Timed)

  final case class Rec(slot: String, op: String, wallS: Double,
      cpuS: Double, constructS: Double, actionS: Double, ok: Boolean,
      error: String)

  private def now = System.nanoTime()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (every thread: tasks, driver, JIT, GC), ns. */
  private def cpuNow = os.getProcessCpuTime
  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  /** Set-up phases, seconds since JVM start: main entered, session
    * ready, graft functions registered. */
  val setupMarks = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  private def mark(k: String): Unit = setupMarks += (k -> (
    (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0))

  def session(cores: Int, work: String): SparkSession = {
    mark("main_s")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    mark("session_s")
    graft.functions.GraftFunctions.register(s)
    mark("setup_s")
    s
  }

  private def profileOps(spark: SparkSession, data: String)
      : Seq[(String, Seq[Op])] = {
    def prof(table: String, cfg: ProfileConfig): () => Timed = () => {
      val t0 = now
      val p = Profiler.profile(spark.read.parquet(s"$data/$table.parquet"), cfg)
      val t1 = now
      val j = ProfileJson.toJson(p)
      Timed(secs(t0, t1), secs(t1, now), Some(j))
    }
    val q00 = ProfileConfig.default.copy(
      computeSpearman = true, computeKendall = true)
    val q00b = q00.copy(exactDistinct = false, exactQuantiles = false)
    Seq(
      "a" -> Seq(Op("profile_exact", prof("tall", q00))),
      "b" -> Seq(Op("profile_sketch", prof("tall", q00b))),
      "c" -> Seq(Op("profile_wide", prof("wide", ProfileConfig.default))))
  }

  private def queryOps(spark: SparkSession, data: String, out: String,
      spec: String): Seq[(String, Seq[Op])] = {
    val catalog = SparkEntry.queries
    spec.split(";").toSeq.map { fam =>
      val Array(slot, names) = fam.split(":", 2)
      slot -> names.split(",").toSeq.map { n =>
        val fn = catalog.getOrElse(n,
          throw new IllegalArgumentException(s"no query named $n"))
        Op(n, () => {
          val t0 = now
          val df = fn(spark, data)
          val t1 = now
          df.write.mode("overwrite").parquet(s"$out/$n")
          Timed(secs(t0, t1), secs(t1, now), None)
        })
      }
    }
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def obj(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) => s"${jsonStr(k)}:${jsonStr(v)}"
    case (k, v: Boolean) => s"${jsonStr(k)}:$v"
    case (k, v: Double) =>
      s"${jsonStr(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    case (k, v) => s"${jsonStr(k)}:$v"
  }.mkString("{", ",", "}")

  private def layersJson(l: Layers, wallS: Double, cpuS: Double,
      constructS: Double, actionS: Double, cores: Int): String = {
    obj(Seq(
      "wall_s" -> wallS, "cpu_s" -> cpuS,
      "jobs" -> l.jobs, "tasks" -> l.tasks,
      "task_s" -> l.taskS,
      "core_util" -> (if (wallS > 0) l.taskS / (wallS * cores) else 0.0),
      "no_job_s" -> l.noJobS,
      "plan_s" -> (l.analysisS + l.optimizationS + l.planningS),
      "analysis_s" -> l.analysisS,
      "optimization_s" -> l.optimizationS,
      "planning_s" -> l.planningS,
      "codegen_n" -> l.codegenN, "codegen_s" -> l.codegenS,
      "shuffle_mb" -> l.shuffleBytes / 1048576.0,
      "spill_mb" -> l.spillBytes / 1048576.0,
      "result_mb" -> l.resultBytes / 1048576.0,
      "gc_s" -> l.gcS, "jit_s" -> l.jitS,
      "construct_s" -> constructS, "action_s" -> actionS))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val spark = session(cores, a("work"))
    val data = a("data")
    val out = a("out")
    val traced = a("trace") == "1"
    Files.createDirectories(Paths.get(out, "json"))
    val families =
      if (a("workload") == "profile") profileOps(spark, data)
      else queryOps(spark, data, out, a("ops"))
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val slotLayers = families.map(_._1).map(_ -> new Layers).toMap
    val recs = scala.collection.mutable.ArrayBuffer[Rec]()

    // one round: every operation once, in slot order, in the fresh JVM
    graft.ops.SessionCache.clearAll()
    for ((slot, ops) <- families; op <- ops) {
      tracer.foreach(_.begin())
      val t0 = now
      val c0 = cpuNow
      val r = try Right(op.run()) catch { case e: Throwable => Left(e) }
      val wall = secs(t0, now)
      val cpu = secs(c0, cpuNow)
      tracer.foreach(t => slotLayers(slot).add(t.end()))
      r match {
        case Right(t) =>
          recs += Rec(slot, op.name, wall, cpu, t.constructS, t.actionS,
            ok = true, "")
          t.json.foreach(j => Files.writeString(
            Paths.get(out, "json", s"${op.name}.json"), j))
        case Left(e) =>
          recs += Rec(slot, op.name, wall, cpu, 0, 0, ok = false,
            String.valueOf(e.getMessage).take(300))
      }
    }
    val queryNames = families.flatMap(_._2).map(_.name)
      .filter(SparkEntry.oracleSql.contains)
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      queryNames.map(n => s"${jsonStr(n)}:${jsonStr(SparkEntry.oracleSql(n))}")
        .mkString("{", ",", "}"))
    val extras =
      if (traced && a("workload") == "queries") curateExtras(spark, data)
      else Nil

    val layers = tracer.map { _ =>
      families.map(_._1).map { s =>
        val rs = recs.filter(_.slot == s)
        s"${jsonStr(s)}:" + layersJson(slotLayers(s), rs.map(_.wallS).sum,
          rs.map(_.cpuS).sum, rs.map(_.constructS).sum,
          rs.map(_.actionS).sum, cores)
      }.mkString("{", ",", "}")
    }.getOrElse("null")

    val recJson = recs.map(r => obj(Seq("slot" -> r.slot,
      "op" -> r.op, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
      "construct_s" -> r.constructS,
      "action_s" -> r.actionS, "ok" -> r.ok, "error" -> r.error)))
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(out, "result.json"),
      s"""{"setup":${obj(setupMarks.toSeq)},""" +
        s""""cores":$cores,"peak_rss_mb":${vmHwmMb()},""" +
        s""""extras":${obj(extras)},"layers":$layers,"records":$recJson}""")
    spark.stop()
  }

  /** Work counts of the dedup family that no timing shows: LSH candidate
    * pairs before verification (same shingles, hashes and bands as q24). */
  private def curateExtras(spark: SparkSession, data: String)
      : Seq[(String, Any)] = {
    import graft.ops.Dedup
    graft.ops.SessionCache.clearAll()
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val sh = Dedup.wordShingleTable(docs, "doc_id", "text", 3)
    val cand = Dedup.minhashLshPairs(
      Dedup.minhashSignaturesFromShingles(sh, 16), 4, 4).count()
    Seq("lsh_candidates" -> cand)
  }
}
