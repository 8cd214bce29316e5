package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{IndexStore, Sessions, SparkEntry, Tables}

/** One benchmark run in one JVM, driven by `run.py`.
  *
  *   run PLAN OUT         set up, run the cold pass and the warm passes
  *   certify PLAN OUT     fingerprint each query live and as dumped by
  *                        graft.Verify, for the expected-value file
  *
  * PLAN is a JSON file written by `run.py`; OUT receives one JSON
  * object. The client is a closed loop: one query at a time, each
  * forced with `queryExecution.toRdd.count()` as graft.Bench does.
  */
object Runner {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args match {
    case Array("run", plan, out) => write(out, run(mapper.readTree(new File(plan))))
    case Array("certify", plan, out) => write(out, certify(mapper.readTree(new File(plan))))
    case _ =>
      System.err.println("usage: Runner run PLAN OUT | certify PLAN OUT")
      sys.exit(2)
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  private def write(path: String, v: Any): Unit =
    mapper.writeValue(new File(path), toJava(v))

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def newSession(cores: Int, data: String): SparkSession = {
    val spark = Sessions.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    // graft.Bench's untimed warm-up
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.load(spark, data, "region").groupBy("r_name").count().collect()
    spark
  }

  private def errorOf(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)

  private def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** Live heap after full collections, repeated until it settles (a
    * collection lets the context cleaner drop what the previous one
    * found unreachable). */
  private def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    var prev, cur = -1.0
    var i = 0
    while (i < 5 && (prev < 0 || math.abs(cur - prev) > 1.0)) {
      System.gc()
      Thread.sleep(100)
      prev = cur
      cur = mb((rt.totalMemory - rt.freeMemory).toDouble)
      i += 1
    }
    cur
  }

  private def treeStats(root: File, since: Long): Map[String, Double] = {
    val all = if (root.exists()) Files.walk(root.toPath).iterator().asScala.map(_.toFile).toSeq else Nil
    Map(
      "disk_mb" -> mb(all.filter(_.isFile).map(_.length.toDouble).sum),
      "staging_left" -> all.count(f => f.isDirectory && f.getName.contains(".tmp-")).toDouble,
      "artifacts_built" -> all.count(f => f.getName == "_SUCCESS" && f.lastModified() >= since).toDouble)
  }

  private def run(plan: JsonNode): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val data = plan.get("data").asText
    val cores = plan.get("cores").asInt
    val trace = plan.get("trace").asBoolean
    val checked = plan.get("checked_passes").elements().asScala.map(_.asInt).toSet
    val orders = plan.get("orders").elements().asScala.map(strings).toIndexedSeq
    val builders = SparkEntry.queries

    // Set-up, several times: the first pays JVM start and class loading.
    // Each later set-up stops the previous context, so the measured
    // session is the last one, and its IndexStore root is empty.
    var spark: SparkSession = null
    val setups = (1 to plan.get("setups").asInt).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis()
      spark = newSession(cores, data)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val sc = spark.sparkContext
    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(sc.addSparkListener)
    val indexRoot = IndexStore.root
    val coldRootEmpty = !indexRoot.exists() || indexRoot.list().isEmpty

    val nanoOrigin = System.nanoTime()
    val epochOrigin = System.currentTimeMillis()
    def now: Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

    // the cold pass, then a fixed number of warm passes: later passes
    // run faster while the JIT settles, so runs compare at equal counts
    val passes = Seq.newBuilder[Map[String, Any]]
    for (p <- orders.indices) {
      System.gc()
      val passStart = System.currentTimeMillis()
      val persistedBefore = sc.getPersistentRDDs.keySet
      val queries = orders(p).zipWithIndex.map { case (name, i) =>
        val id = s"$p:$i:$name"
        if (trace) sc.setLocalProperty(SpanListener.QueryKey, id)
        val t0 = now
        var tBuilt, tPlanned = Double.NaN
        var df: DataFrame = null
        val error = try {
          df = builders(name)(spark, data)
          tBuilt = now
          if (trace) { df.queryExecution.executedPlan; tPlanned = now }
          df.queryExecution.toRdd.count()
          None
        } catch { case NonFatal(e) => Some(errorOf(e)) }
        val t1 = now
        if (trace) sc.setLocalProperty(SpanListener.QueryKey, null)
        var rec = Map[String, Any]("id" -> id, "name" -> name,
          "wall_s" -> (t1 - t0) / 1000.0, "error" -> error)
        if (trace) {
          rec ++= Map("t0" -> t0, "t_built" -> tBuilt, "t_planned" -> tPlanned, "t1" -> t1)
          if (error.isEmpty) {
            val qe = df.queryExecution
            val phases = qe.tracker.phases
            def phase(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
            rec ++= Map("analysis_ms" -> phase("analysis"),
              "optimization_ms" -> phase("optimization"), "planning_ms" -> phase("planning"))
            rec ++= PlanStats.of(qe.executedPlan)
          }
        }
        (rec, Option(df).filter(_ => error.isEmpty))
      }.map { case (rec, df) =>
        // after the whole pass, so no timed query runs next to a check
        if (checked(p)) df.fold(rec)(d => rec + ("fingerprint" ->
          (try Fingerprint.of(d) catch { case NonFatal(e) => Map("error" -> errorOf(e)) })))
        else rec
      }
      // one client, one query at a time: the pass takes the sum of its
      // queries' latencies (fingerprinting is outside every timed region)
      val wall = queries.map(_("wall_s").asInstanceOf[Double]).sum
      var pass = Map[String, Any]("pass" -> p, "kind" -> (if (p == 0) "cold" else "warm"),
        "wall_s" -> wall, "queries" -> queries)
      if (trace) {
        ListenerBusDrain(sc)
        val persisted = sc.getPersistentRDDs.keySet
        pass ++= Map(
          "persisted_rdds" -> persisted.size,
          "new_persisted" -> (persisted -- persistedBefore).size,
          "heap_mb" -> liveHeapMb()) ++
          treeStats(indexRoot, passStart)
      }
      passes += pass
    }

    // what the session keeps: the live heap after a full collection
    // (memos, plans, in-memory blocks) plus blocks held on disk
    val storage = sc.getRDDStorageInfo
    var out = Map[String, Any](
      "setup_s" -> setups,
      "passes" -> passes.result(),
      "resident_mb" -> (liveHeapMb() + mb(storage.map(_.diskSize).sum.toDouble)),
      "storage_mem_mb" -> mb(storage.map(_.memSize).sum.toDouble),
      "storage_disk_mb" -> mb(storage.map(_.diskSize).sum.toDouble),
      "cached_rdds" -> storage.length,
      "cold_index_root_empty" -> coldRootEmpty,
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"),
      "heap_max_mb" -> mb(Runtime.getRuntime.maxMemory.toDouble),
      "cores" -> cores)
    listener.foreach { l =>
      ListenerBusDrain(sc)
      val (jobs, stages) = l.export()
      out ++= Map("jobs" -> jobs, "stages" -> stages)
    }
    spark.stop()
    out
  }

  /** Fingerprints each query twice in one session, and its graft.Verify
    * dump once, so `certify.py` can require all three to agree. */
  private def certify(plan: JsonNode): Map[String, Any] = {
    val data = plan.get("data").asText
    val dumps = plan.get("verify_dir").asText
    val spark = newSession(plan.get("cores").asInt, data)
    val out = strings(plan.get("queries")).map { name =>
      def live() = try Fingerprint.of(SparkEntry.queries(name)(spark, data))
      catch { case NonFatal(e) => Map("error" -> errorOf(e)) }
      val dir = Paths.get(dumps, name)
      val dumped =
        if (Files.isDirectory(dir)) Fingerprint.of(spark.read.parquet(dir.toString))
        else Map("error" -> "no dump")
      name -> Map("live" -> Seq(live(), live()), "dump" -> dumped)
    }.toMap
    spark.stop()
    out
  }
}
