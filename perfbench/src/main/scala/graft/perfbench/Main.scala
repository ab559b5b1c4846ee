package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Sessions, Tables}

/** The benchmark's JVM side (arguments are `key=value` pairs). Both modes
  * first set up: start a session and resolve every input table, timing
  * it from process launch (`launch_ms`, epoch ms taken by the launcher
  * just before it started the JVM). Then
  *
  *  - `mode=setup` (`run.py`): nothing more; a run launches set-up-only
  *    JVMs beside the measuring one so that `setup_s` is a median;
  *  - `mode=run` (`run.py`): a cold pass and `warm` warm passes of the
  *    workload's ops. With `trace=1` the passes alternate untraced and
  *    traced (listeners installed), and the traced ones carry the
  *    per-layer record;
  *  - `mode=digest` (`establish_reference.py`): the digests of stored
  *    result trees, given as `paths=key:path,...`.
  *
  * Results go to `out` as one JSON document; spans go to `spans` (JSONL).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    val launchMs = a("launch_ms").toLong
    val t0 = System.nanoTime()
    val work = a("work")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val dir = a("data")
    Tables.names.foreach(t => Tables.load(spark, dir, t).schema)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val out = new mutable.LinkedHashMap[String, Any]
    out("setup_s") = setupS
    out("session_start_s") = sessionS
    out("spark_version") = spark.version
    out("java_version") = System.getProperty("java.version")
    out("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    out("cores") = spark.sparkContext.defaultParallelism
    try a("mode") match {
      case "setup" => ()
      case "run" => run(spark, a, dir, out)
      case "digest" =>
        a("paths").split(",").foreach { kv =>
          val Array(k, path) = kv.split(":", 2)
          val (n, h, _) = Digest.of(spark.read.parquet(path))
          out(k) = Map("rows" -> n, "digest" -> h)
        }
    } finally {
      Json.write(new File(a("out")), out)
      spark.stop()
    }
  }

  /** Time spent in [[liveHeapMb]], recorded beside the run's results. */
  private var heapProbeNs = 0L

  /** Live driver heap: used heap after full GCs, repeated until a GC frees
    * less than 1 MB more. Unreachable broadcasts, shuffles and checkpointed
    * RDDs keep their blocks until Spark's ContextCleaner, woken by a GC,
    * has removed them asynchronously; the next GC then frees the bytes. */
  private def liveHeapMb(): Double = {
    val t0 = System.nanoTime()
    def usedAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var cur = usedAfterGc()
    var freed = Long.MaxValue
    var rounds = 0
    while (rounds < 12 && freed > (1L << 20)) {
      Thread.sleep(250)
      val next = usedAfterGc()
      freed = cur - next
      cur = next
      rounds += 1
    }
    heapProbeNs += System.nanoTime() - t0
    cur / 1048576.0
  }

  private def run(spark: SparkSession, a: Map[String, String], dir: String,
                  out: mutable.Map[String, Any]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val warm = a("warm").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = spark.sparkContext.defaultParallelism
    val rec = new Recorder(spark)
    val spans = new SpanLog(new File(a("spans")))
    var heapPeak = 0.0
    val passes = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val published = mutable.ArrayBuffer.empty[(String, Long)]
    val stateRoot = s"$work/state"
    val stateBase = s"$stateRoot/base"
    // Every pass works in the same, freshly emptied directory, so the
    // plans of its reads (which name the path) fingerprint alike.
    val passRoot = s"$stateRoot/pass"
    // Trace-only state accounting runs between an op's execute half and
    // its end; its time is kept out of the op's wall.
    var hookNs = 0L
    var storedRows = 0L
    var liveRows = 0L

    def opsFor(pass: Int): Seq[Op] =
      if (workload != "state_sf001") a("keys").split(",").toSeq.map(Workloads.keyOp(spark, dir, _))
      else Workloads.stateOps(spark, dir, stateBase, passRoot, pass == 0, name => {
        val h0 = System.nanoTime()
        if (trace) {
          published += name -> StateFiles.newBytes(stateRoot)
          if (name == "postings_append2")
            storedRows = StateFiles.parquetRows(spark, s"$passRoot/postings")
          if (name == "postings_compact")
            liveRows = StateFiles.parquetRows(spark, s"$passRoot/postings")
        }
        // Keep a pristine copy of the base postings version: appends
        // land new files in place, and every later pass starts from it.
        if (name == "postings_base") {
          StateFiles.copyTree(new File(s"$passRoot/postings"), new File(s"$stateBase/postings"))
          if (trace) StateFiles.newBytes(stateRoot)
        }
        hookNs += System.nanoTime() - h0
      })

    // Live heap after a pass, measured once the pass's ops (and the frames
    // they hold) are out of scope. Spark's status store keeps every job
    // and execution up to its retention cap, so later passes hold more:
    // the peak is taken over the cold and first warm pass, which every
    // run makes, keeping it independent of run length.
    def measured(pass: Int, kind: String, traced: Boolean): Unit = {
      onePass(pass, kind, traced)
      if (pass <= 1) {
        val heap = liveHeapMb()
        heapPeak = math.max(heapPeak, heap)
        passes.last("heap_live_mb") = heap
      }
    }

    def onePass(pass: Int, kind: String, traced: Boolean): Unit = {
      StateFiles.reset()
      published.clear()
      if (workload == "state_sf001" && pass > 0) {
        StateFiles.copyTree(new File(s"$stateBase/postings"), new File(s"$passRoot/postings"))
        StateFiles.newBytes(stateRoot)
      }
      if (traced) { rec.reset(); rec.install() }
      // The state workload's warm passes keep the fixed order stateOps gives.
      val ops = if (workload == "state_sf001" && pass > 0) opsFor(pass)
                else Workloads.ordered(opsFor(pass), seed, pass)
      val opRes = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
      val opSpans = mutable.ArrayBuffer.empty[(String, Long, Long, OpTimer)]
      val p0 = System.nanoTime(); val w0 = System.currentTimeMillis()
      val hook0 = hookNs
      ops.foreach { op =>
        val t = new OpTimer(traced)
        val h0 = hookNs
        val o0 = System.nanoTime(); val ow0 = System.currentTimeMillis()
        val r = new mutable.LinkedHashMap[String, Any]
        r("name") = op.name
        try {
          r("checks") = op.run(t).map(c => Map("ref" -> c.ref, "rows" -> c.rows, "digest" -> c.digest))
        } catch { case e: Throwable =>
          r("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] ${op.name} failed: ${r("error")}")
        }
        val opNs = System.nanoTime() - o0 - (hookNs - h0)
        r("wall_s") = opNs / 1e9
        r("build_s") = t.buildNs / 1e9
        r("exec_s") = t.execNs / 1e9
        t.planFp.foreach(fp => r("plan_fp") = fp)
        opRes += r
        opSpans += ((op.name, ow0, ow0 + opNs / 1000000L, t))
      }
      val wall = (System.nanoTime() - p0 - (hookNs - hook0)) / 1e9
      val w1 = w0 + (wall * 1000).toLong
      val p = new mutable.LinkedHashMap[String, Any]
      p("pass") = pass; p("kind") = kind; p("traced") = traced; p("wall_s") = wall
      p("ops") = opRes.toSeq
      if (traced) {
        rec.drain(); rec.uninstall()
        p("layers") = Layers.of(rec, spans, workload, pass, w0, w1, wall, cores, opSpans.toSeq)
        if (workload == "state_sf001") p("layers").asInstanceOf[mutable.Map[String, Any]] ++=
          StateFiles.report(passRoot, dir, published.toSeq) +
          ("postings_live_frac" -> (if (storedRows > 0) liveRows.toDouble / storedRows else 0.0))
      }
      passes += p
      System.err.println(f"[perfbench] $workload pass $pass ($kind${if (traced) ", traced" else ""}) $wall%.3f s")
      if (workload == "state_sf001") StateFiles.deleteTree(new File(passRoot))
    }

    val runStart = System.currentTimeMillis()
    measured(0, "cold", trace)
    // A traced run makes at least three warm passes: an untraced one while
    // the JIT is still warming up, then traced and untraced in turn, so
    // the tracing overhead (a same-JVM difference of medians) compares
    // passes at about the same stage of warm-up.
    val warmPasses = if (trace) math.max(3, warm) else warm
    for (pass <- 1 to warmPasses) measured(pass, "warm", trace && pass % 2 == 0)
    out("workload") = workload
    out("seed") = seed
    out("heap_live_peak_mb") = heapPeak
    out("heap_probe_s") = heapProbeNs / 1e9
    out("passes") = passes.toSeq
    spans.root("workload", workload, runStart, System.currentTimeMillis())
    spans.close()
  }
}

/** Streams spans as JSON lines; parents are the ids handed out here. */
final class SpanLog(f: File) {
  private val w = new PrintWriter(f)
  private var next = 0L
  def add(parent: Long, kind: String, name: String, s: Long, e: Long,
          attrs: Map[String, Any] = Map.empty): Long = {
    next += 1
    w.println(Json.render(Map("id" -> next, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_ms" -> s, "end_ms" -> e) ++ attrs))
    next
  }
  /** The root span (id 0) every pass hangs from. */
  def root(kind: String, name: String, s: Long, e: Long): Unit =
    w.println(Json.render(Map("id" -> 0, "parent" -> -1, "kind" -> kind,
      "name" -> name, "start_ms" -> s, "end_ms" -> e)))
  def close(): Unit = w.close()
}

/** Minimal JSON rendering for the harness's own result documents. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(f: File, v: Any): Unit = {
    val w = new PrintWriter(f)
    try w.println(render(v)) finally w.close()
  }
}

/** Bytes the persisted-state ops publish, found by diffing the state
  * tree's file listing around each publish. */
object StateFiles {
  private val seen = mutable.Map.empty[String, Long]

  def reset(): Unit = seen.clear()

  private def files(root: File): Seq[File] =
    if (!root.exists) Nil
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.iterator().asScala.map(_.toFile).filter(_.isFile).toList finally s.close()
    }

  private def dataFiles(root: File): Seq[File] =
    files(root).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def treeBytes(root: File): Long = dataFiles(root).map(_.length).sum

  /** Bytes of files that are new or changed since the last call. */
  def newBytes(root: String): Long = {
    var n = 0L
    dataFiles(new File(root)).foreach { f =>
      val key = f.getPath
      val stamp = f.length * 31 + f.lastModified
      if (!seen.get(key).contains(stamp)) { n += f.length; seen(key) = stamp }
    }
    n
  }

  /** Row count of a parquet tree from its footers (no Spark job). */
  def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files(new File(dir)).filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  def report(root: String, dataDir: String,
             published: Seq[(String, Long)]): Map[String, Any] = {
    val groups = treeBytes(new File(s"$root/groups/v3"))
    val post = treeBytes(new File(s"$root/postings"))
    val docs = new File(s"$dataDir/documents.parquet").length
    Map("state_bytes_written_mb" -> published.map(_._2).sum / 1048576.0,
      "groups_state_mb" -> groups / 1048576.0,
      "postings_state_mb" -> post / 1048576.0,
      "state_bytes_per_input_byte" -> (groups + post).toDouble / docs) ++
      published.map { case (n, b) => s"published_mb.$n" -> b / 1048576.0 }
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
