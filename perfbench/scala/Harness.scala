package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It builds one session the way
  * `graft.Bench` does, runs the untimed warm-up, then runs the given
  * queries one after another (closed loop, one client) through the
  * `noop` sink: one cold pass, then `warm_passes` warm passes in the
  * same JVM. It calls the program only through
  * `SparkEntry.queries(name)(spark, dir)` and the write of the
  * DataFrame that returns. With `trace=1` it registers the listeners
  * of [[Tracer]] before the warm-up. With a check directory it then
  * writes the queries' oracle SQL to `oracle_out` and every query's
  * output as parquet under the check directory, outside every timed
  * window, for the oracle comparison.
  *
  * Arguments are `key=value` pairs (`all_queries=1` runs every
  * registered query in name order); results go to `out` as one JSON
  * object, so nothing depends on what Spark prints.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val launchMs = opt("launch_ms").toDouble
    val cores = opt("cores").toInt
    val dataDir = opt("data")
    val warehouse = opt("warehouse")
    val warmPasses = opt.getOrElse("warm_passes", "0").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val checkDir = opt.getOrElse("check", "")
    val entry = graft.SparkEntry.queries
    val queries =
      if (opt.get("all_queries").contains("1")) entry.keys.toSeq.sorted
      else opt.get("queries").map(p => Files.readAllLines(Paths.get(p)).asScala
        .map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val out = new StringBuilder("{")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Tracer.nowMs
    val tracer = if (trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.executionListener)
      spark.streams.addListener(t.streamListener)
      Some(t)
    } else None

    def exec(name: String): Unit =
      entry(name)(spark, dataDir).write.format("noop").mode("overwrite").save()
    try exec("q_topk") catch { case _: Throwable => () }
    graft.Bench.warmDedupCodegen(spark, dataDir)
    spark.catalog.clearCache()
    val readyMs = Tracer.nowMs
    out ++= s""""session_s":${(sessionMs - launchMs) / 1000},"warmup_s":${(readyMs - sessionMs) / 1000}"""

    out ++= s""","registered":${entry.keys.toSeq.sorted.map(str).mkString("[", ",", "]")}"""
    val runnable = queries.filter(entry.contains)
    val sc = spark.sparkContext
    val spans = mutable.ArrayBuffer.empty[Span]
    val scratchBytes = mutable.HashMap.empty[String, Long]
    out ++= ""","passes":["""
    for (pi <- 0 to warmPasses) {
      val pass = if (pi == 0) "cold" else s"warm$pi"
      if (pi > 0) out ++= ","
      val passStart = Tracer.nowMs
      val recs = runnable.map { name =>
        val key = if (pi == 0) name else s"$pass:$name"
        val tag = Tracer.TagPrefix + key
        tracer.foreach(_.beginQuery(key))
        sc.setLocalProperty(Tracer.QueryProperty, key)
        sc.addJobTag(tag)
        val before = if (trace) dirBytes(Paths.get(warehouse)) else 0L
        val t0 = Tracer.nowMs
        var t1 = t0
        val err = try {
          val df = entry(name)(spark, dataDir)
          t1 = Tracer.nowMs
          df.write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable =>
          if (t1 == t0) t1 = Tracer.nowMs
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)
        }
        val t2 = Tracer.nowMs
        System.err.println(f"[perfbench] $pass $name ${(t2 - t0) / 1000}%.3f s $err")
        sc.removeJobTag(tag)
        sc.setLocalProperty(Tracer.QueryProperty, null)
        tracer.foreach(_.current = "")
        spark.catalog.clearCache()
        if (trace) {
          scratchBytes(key) = dirBytes(Paths.get(warehouse)) - before
          spans += Span("query", name, key, t0, t2)
          spans += Span("build", name, key, t0, t1)
          spans += Span("execute", name, key, t1, t2)
        }
        s"""{"name":${str(name)},"start":$t0,"build_s":${(t1 - t0) / 1000},""" +
          s""""execute_s":${(t2 - t1) / 1000},"error":${str(err)}}"""
      }
      val passEnd = Tracer.nowMs
      if (trace) spans += Span("run", pass, "", passStart, passEnd)
      out ++= s"""{"pass":${str(pass)},"start":$passStart,"end":$passEnd,"queries":[${recs.mkString(",")}]}"""
    }
    out ++= "]"

    tracer.foreach { t =>
      // Listener events are delivered asynchronously: run one marker
      // job and wait until its end has been seen, so every earlier
      // event on the same queue has been counted too.
      t.awaitMarker(sc)
      t.attributePlans(spans.collect { case s if s.layer == "query" => (s.query, s.start, s.end) }.toSeq)
      val all = spans.toSeq ++ t.spans.asScala
      val self = t.selfTimes(all)
      opt.get("spans").foreach { p =>
        Files.write(Paths.get(p), all.sortBy(_.start).map { s =>
          s"""{"layer":${str(s.layer)},"name":${str(s.name)},"query":${str(s.query)},""" +
            s""""start":${s.start},"end":${s.end}}"""
        }.asJava)
      }
      val jobIntervals = all.filter(_.layer == "job").groupBy(_.query)
      out ++= ""","counters":{"""
      out ++= t.counters.asScala.toSeq.filter(_._1.nonEmpty).sortBy(_._1).map { case (q, c) =>
        val win = spans.find(s => s.layer == "query" && s.query == q)
        val busy = win.map(w => Tracer.union(jobIntervals.getOrElse(q, Nil).map(j =>
          (math.max(j.start, w.start), math.min(j.end, w.end))))).getOrElse(0.0)
        val nojob = win.map(w => (w.end - w.start - busy) / 1000).getOrElse(0.0)
        val selfS = self.getOrElse(q, Map.empty).map { case (k, v) => s"${str(k)}:$v" }
        s"""${str(q)}:{"actions":${c.actions},"plan_s":${c.planMs / 1000.0},"jobs":${c.jobs},""" +
          s""""tasks":${c.tasks},"failed_tasks":${c.failedTasks},"nojob_s":$nojob,""" +
          s""""task_s":${c.taskMs / 1000.0},"gc_s":${c.gcMs / 1000.0},""" +
          s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
          s""""skew":${c.worstSkew},"input_bytes":${c.input},"output_bytes":${c.output},""" +
          s""""scratch_bytes":${scratchBytes.getOrElse(q, 0L)},"pinned_peak_bytes":${c.pinnedPeak},""" +
          s""""batches":${c.batches},"batch_s":${c.batchMs.map(_ / 1000).mkString("[", ",", "]")},""" +
          s""""state_rows":${c.stateRows.values.sum},"self_s":${selfS.mkString("{", ",", "}")}}"""
      }.mkString(",")
      out ++= "}"
    }

    if (checkDir.nonEmpty) {
      val oracles = graft.SparkEntry.oracleSql.filter(kv => runnable.contains(kv._1))
      val oracleTmp = Paths.get(opt("oracle_out") + ".tmp")
      Files.writeString(oracleTmp,
        oracles.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
      Files.move(oracleTmp, Paths.get(opt("oracle_out")),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val checks = runnable.map { name =>
        val err = try {
          entry(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$checkDir/$name")
          ""
        } catch { case e: Throwable =>
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)
        }
        spark.catalog.clearCache()
        s"${str(name)}:${str(err)}"
      }
      out ++= s""","check_errors":${checks.mkString("{", ",", "}")}"""
    }
    out ++= s""","scratch_bytes":${dirBytes(Paths.get(warehouse))}}"""
    Files.writeString(Paths.get(opt("out")), out.toString)
    spark.stop()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** JSON string literal: quotes, backslashes and control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
