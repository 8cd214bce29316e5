package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.IngestDedup
import graft.text.{CorpusOps, TextAnalysis}

/** The one release path for per-session state: [[SessionMemo.release]]
  * frees every kind of memo a session built, a stopped session keeps
  * none, and no module grows a private session map again. */
class SessionMemoSpec extends AnyFunSuite with SharedSpark {

  /** A private copy of the corpus: its plans differ from every other
    * suite's, so no other session's cached frame matches them. */
  private def withCorpusCopy(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_memo")
    Files.copy(Paths.get(sfDir, "documents.parquet"), dir.resolve("documents.parquet"))
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("release frees a child session's memos of every kind; the parent's stay") {
    withCorpusCopy { dir =>
      val sc = spark.sparkContext
      val parentShingles = Dedup.cachedDocShingles(spark, sfDir)
      Tables.load(spark, sfDir, "orders")
      val parentEntries = SessionMemo.entries(spark)
      val before = sc.getPersistentRDDs.keySet

      val child = spark.newSession()
      // persisted frames: the shingles, and the ingest fold, whose builder
      // localCheckpoints its three step frames
      assert(Dedup.cachedDocShingles(child, dir).count() > 0)
      assert(IngestDedup.ingestDedupFold(child, dir).count() > 0)
      // a broadcast (the Bloom filter), a driver value (the BPE merges),
      // a lazy plan and a scalar (Tables), a fingerprint (IndexStore)
      assert(TextAnalysis.evalDecontaminationBloom(child, dir).count() > 0)
      assert(CorpusOps.bpeLearnMerges(child, dir).nonEmpty)
      Tables.load(child, dir, "documents")
      assert(Tables.rowCount(child, dir, "documents") > 0)
      IndexStore.indexDir(child, dir, "documents", "memo_spec")
      assert(SessionMemo.entries(child) >= 7)
      val built = sc.getPersistentRDDs.keySet -- before
      // shingles, the fold's union and its three checkpointed steps
      assert(built.size >= 5, s"expected the memos' blocks, got $built")

      SessionMemo.release(child)
      assert(SessionMemo.entries(child) == 0)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"release left persisted RDDs $left")
      assert(SessionMemo.entries(spark) == parentEntries)
      assert(Dedup.cachedDocShingles(spark, sfDir) eq parentShingles)
      assert(parentShingles.storageLevel.useMemory, "the parent's frame lost its cache")

      // released memos rebuild on the next call
      assert(IngestDedup.ingestDedupFold(child, dir).count() > 0)
      SessionMemo.release(child)
    }
  }

  test("a stopped session keeps no memo entries (child JVM)") {
    withCorpusCopy { dir =>
      val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") ||
          a.startsWith("-javaagent"))
      val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath) ++
        jvm ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
          "graft.SessionMemoStopCheck", dir)
      val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      assert(proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "child JVM hung")
      val code = proc.exitValue()
      assert(code == 0, s"child JVM failed:\n${out.takeRight(4000)}")
      assert(out.linesIterator.contains("stopped entries: 0"), out.takeRight(4000))
    }
  }

  test("no ConcurrentHashMap keyed by SparkSession outside SessionMemo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val keyed = "ConcurrentHashMap\\s*\\[\\s*\\(\\s*SparkSession".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionMemo.scala")
      .filter(p => keyed.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8").replaceAll("\\s+", " ")).nonEmpty)
      .toSeq
    assert(offenders.isEmpty,
      s"per-session state belongs in SessionMemo, not private maps: $offenders")
  }
}

/** Child-JVM half of the stop spec: SharedSpark's session is never
  * stopped, so this builds memos on its own session and a child
  * session, stops the context and reports what is left. */
object SessionMemoStopCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.builder("local[2]", 2).appName("memo-stop").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val child = spark.newSession()
    for (s <- Seq(spark, child)) {
      Dedup.cachedDocShingles(s, dir).count()
      Tables.load(s, dir, "documents")
      Tables.rowCount(s, dir, "documents")
      TextAnalysis.evalDecontaminationBloom(s, dir).count()
      CorpusOps.bpeLearnMerges(s, dir)
    }
    val built = SessionMemo.entries(spark) + SessionMemo.entries(child)
    require(built >= 10, s"expected memo entries before stop, got $built")
    spark.stop()
    val left = SessionMemo.entries(spark) + SessionMemo.entries(child)
    println(s"stopped entries: $left")
    System.exit(0)
  }
}
