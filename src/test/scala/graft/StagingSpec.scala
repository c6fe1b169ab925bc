package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Lakehouse, Relational}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The staging protocol behind every staged mirror: content-keyed
  * immutable `by/<digest>` targets trusted only after `_GRAFT_DONE`, and a
  * returned root that no later stage of the same dir can swap.
  */
class StagingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.{spark, sfDir}

  private val sf01Dir = sfDir.replace("sf0.001", "sf0.01")

  private val temps = scala.collection.mutable.ListBuffer[Path]()

  private def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    temps += p
    p
  }

  override def afterAll(): Unit = temps.foreach(Staging.deleteTree)

  private def writeSource(dir: Path, text: String): String = {
    val p = dir.resolve("source.txt")
    Files.writeString(p, text)
    p.toString
  }

  /** Stages `rows` ids as parquet under `<root>/t`, counting the writes. */
  private def stageRange(stageDir: Path, source: String, rows: Long,
                         writes: AtomicInteger): String =
    Staging.stage(stageDir.toString, "dir", "t1", source) { target =>
      writes.incrementAndGet()
      spark.range(rows).write.parquet(s"$target/t")
    }

  /** Runs `body(i)` for i in 0 until n on n threads; returns the results. */
  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map(i => pool.submit(new Callable[T] { def call(): T = body(i) }))
      futures.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("a target without _GRAFT_DONE is rebuilt, never read") {
    val stageDir = tempDir("graft-staging-a")
    val source = writeSource(tempDir("graft-staging-src"), "a")
    val writes = new AtomicInteger
    val root = stageRange(stageDir, source, 3, writes)
    assert(writes.get == 1 && Files.exists(Paths.get(root, "_GRAFT_DONE")))
    // a finished target is reused as is
    assert(stageRange(stageDir, source, 3, writes) == root && writes.get == 1)
    // simulate a crash after a partial write: no marker, a stray file
    Files.delete(Paths.get(root, "_GRAFT_DONE"))
    Files.writeString(Paths.get(root, "stray"), "partial")
    assert(stageRange(stageDir, source, 3, writes) == root)
    assert(writes.get == 2, "a target without _GRAFT_DONE was trusted")
    assert(!Files.exists(Paths.get(root, "stray")), "the partial target was not cleared")
    assert(Files.exists(Paths.get(root, "_GRAFT_DONE")))
    assert(spark.read.parquet(s"$root/t").count() == 3)
  }

  test("a write that throws deletes its target and rethrows") {
    val stageDir = tempDir("graft-staging-throw")
    val source = writeSource(tempDir("graft-staging-src"), "a")
    var target = ""
    val e = intercept[IllegalStateException] {
      Staging.stage(stageDir.toString, "dir", "t1", source) { root =>
        target = root
        Files.writeString(Paths.get(root, "partial"), "half")
        throw new IllegalStateException("write failed")
      }
    }
    assert(e.getMessage == "write failed")
    assert(target.nonEmpty && !Files.exists(Paths.get(target)), "the failed target was left behind")
    val writes = new AtomicInteger
    assert(stageRange(stageDir, source, 3, writes) == target && writes.get == 1)
    assert(spark.read.parquet(s"$target/t").count() == 3)
  }

  test("staging deletes a marker-less sibling target and keeps finished ones") {
    val stageDir = tempDir("graft-staging-stale")
    val srcA = writeSource(tempDir("graft-staging-srcA"), "a")
    val srcB = writeSource(tempDir("graft-staging-srcB"), "bb")
    val writes = new AtomicInteger
    val rootA = stageRange(stageDir, srcA, 3, writes)
    // a crashed stage of another key: a target with data and no marker
    val stale = stageDir.resolve("by").resolve("000000000000")
    Files.createDirectories(stale.resolve("t"))
    Files.writeString(stale.resolve("t").resolve("part"), "partial")
    val rootB = stageRange(stageDir, srcB, 5, writes)
    assert(!Files.exists(stale), "a marker-less sibling survived a stage of its dir")
    assert(Files.exists(Paths.get(rootA, "_GRAFT_DONE")) && Files.exists(Paths.get(rootB, "_GRAFT_DONE")))
    assert(spark.read.parquet(s"$rootA/t").count() == 3)
    assert(stageRange(stageDir, srcA, 3, writes) == rootA && writes.get == 2)
  }

  test("staging key B leaves key A's target intact and readable") {
    val stageDir = tempDir("graft-staging-b")
    val srcA = writeSource(tempDir("graft-staging-srcA"), "a")
    val srcB = writeSource(tempDir("graft-staging-srcB"), "bb")
    val writes = new AtomicInteger
    val rootA = stageRange(stageDir, srcA, 3, writes)
    val rootB = stageRange(stageDir, srcB, 5, writes)
    assert(rootA != rootB && writes.get == 2)
    assert(Files.exists(Paths.get(rootA, "_GRAFT_DONE")))
    assert(spark.read.parquet(s"$rootA/t").count() == 3)
    assert(spark.read.parquet(s"$rootB/t").count() == 5)
    // `current` and stagedRoot follow the last stage
    assert(Staging.stagedRoot(stageDir.toString) == rootB)
    assert(Paths.get(s"$stageDir/current").toRealPath() == Paths.get(rootB).toRealPath())
    // re-staging A re-links to the untouched target without a write
    assert(stageRange(stageDir, srcA, 3, writes) == rootA && writes.get == 2)
  }

  test("rewriting the source re-stages") {
    val stageDir = tempDir("graft-staging-c")
    val srcDir = tempDir("graft-staging-src")
    val source = writeSource(srcDir, "v1")
    val writes = new AtomicInteger
    val before = stageRange(stageDir, source, 3, writes)
    writeSource(srcDir, "version two")
    val after = stageRange(stageDir, source, 4, writes)
    assert(writes.get == 2 && after != before)
    assert(spark.read.parquet(s"$after/t").count() == 4)
  }

  test("threads staging scan_nested for two scale factors each read their own") {
    // both scale factors have the same document count, so compare content
    def rows(dir: String): Set[Seq[Any]] =
      SparkEntry.queries("scan_nested")(spark, dir).collect().map(_.toSeq).toSet
    val want = Seq(sfDir, sf01Dir).map { dir =>
      val r = rows(dir)
      // drop each finished stage so the threads also race to build them
      Staging.deleteTree(Paths.get(Staging.stagedRoot(Relational.NestedStageDir)))
      dir -> r
    }.toMap
    assert(want(sfDir) != want(sf01Dir))
    val got = onThreads(8) { i =>
      val dir = if (i % 2 == 0) sfDir else sf01Dir
      (0 until 3).map(_ => dir -> rows(dir))
    }.flatten
    got.foreach { case (dir, r) =>
      assert(r == want(dir), s"$dir read another scale factor's mirror")
    }
  }

  test("compact_files from 4 threads matches a serial run") {
    def filesIn(root: String, sub: String): Int = {
      val ls = Files.list(Paths.get(root, sub))
      try ls.filter(_.toString.endsWith(".parquet")).count().toInt finally ls.close()
    }
    def run(): Set[Seq[Any]] =
      SparkEntry.queries("compact_files")(spark, sfDir).collect().map(_.toSeq).toSet
    val serial = run()
    val root = Staging.stagedRoot(Lakehouse.CompactStageDir)
    val counts = (filesIn(root, "small"), filesIn(root, "compacted"))
    // drop the finished stage so the threads race to build it
    Staging.deleteTree(Paths.get(root))
    val concurrent = onThreads(4)(_ => run())
    concurrent.foreach(rows => assert(rows == serial))
    assert(Staging.stagedRoot(Lakehouse.CompactStageDir) == root)
    assert((filesIn(root, "small"), filesIn(root, "compacted")) == counts)
  }
}
