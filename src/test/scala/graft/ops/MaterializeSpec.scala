package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the storage policy: each [[Materialize]] function registers
  * exactly the level and eagerness it names, [[Materialize.withPersisted]]
  * releases its inputs on every exit, and no other main source file
  * makes a storage decision of its own.
  */
class MaterializeSpec extends SparkSpec {

  private var tag = 0
  /** A relation no other test has cached (the cache manager matches plans). */
  private def fresh(): DataFrame = {
    tag += 1
    spark.range(5000L).select((col("id") * 7 + tag).as("v"))
  }

  /** (level, stored bytes) of every RDD `body` newly registers as persistent. */
  private def newPersistent(body: => Unit): Seq[(StorageLevel, Long)] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    val stored = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    sc.getPersistentRDDs.toSeq.filter { case (id, _) => !before.contains(id) }
      .map { case (id, rdd) => (rdd.getStorageLevel, stored.getOrElse(id, 0L)) }
  }

  test("writeOnce: one eager serialized checkpoint") {
    val got = newPersistent { Materialize.writeOnce(fresh()) }
    assert(got.map(_._1) == Seq(StorageLevel.MEMORY_AND_DISK_SER))
    assert(got.head._2 > 0L, "the checkpoint must be materialized on return")
  }

  test("iterative: one eager deserialized checkpoint") {
    val got = newPersistent { Materialize.iterative(fresh()) }
    assert(got.map(_._1) == Seq(StorageLevel.MEMORY_AND_DISK))
    assert(got.head._2 > 0L, "the checkpoint must be materialized on return")
  }

  test("shared: a lazy deserialized persist") {
    var df: DataFrame = null
    val lazyPart = newPersistent { df = Materialize.shared(fresh()) }
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(lazyPart.isEmpty, s"shared must not materialize: $lazyPart")
    val onRead = newPersistent { df.count() }
    assert(onRead.map(_._1) == Seq(StorageLevel.MEMORY_AND_DISK))
    df.unpersist()
  }

  test("sharedNow: a deserialized persist materialized on return") {
    var df: DataFrame = null
    val got = newPersistent { df = Materialize.sharedNow(fresh()) }
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(got.map(_._1) == Seq(StorageLevel.MEMORY_AND_DISK))
    assert(got.head._2 > 0L)
    df.unpersist()
  }

  test("sharedSerialized: a serialized persist materialized on return") {
    var df: DataFrame = null
    val got = newPersistent { df = Materialize.sharedSerialized(fresh()) }
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK_SER)
    assert(got.map(_._1) == Seq(StorageLevel.MEMORY_AND_DISK_SER))
    assert(got.head._2 > 0L)
    df.unpersist()
  }

  test("withPersisted: releases on return; the cut result stays readable") {
    val a = Materialize.sharedNow(fresh())
    val aTag = tag
    val b = Materialize.shared(fresh())
    val out = Materialize.withPersisted(a, b) {
      Materialize.writeOnce(a.unionByName(b).select((col("v") + 1).as("w")))
    }
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(out.count() == 10000L)
    assert(out.agg(min("w")).head().getLong(0) == aTag + 1L)
  }

  test("withPersisted: releases when the body throws") {
    val a = Materialize.sharedNow(fresh())
    val e = intercept[IllegalStateException] {
      Materialize.withPersisted(a) { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(a.storageLevel == StorageLevel.NONE)
  }

  test("withPersisted: refuses a Dataset result that is not a cut") {
    val a = Materialize.sharedNow(fresh())
    intercept[IllegalArgumentException] {
      Materialize.withPersisted(a)(a.select(col("v")))
    }
    assert(a.storageLevel == StorageLevel.NONE)
  }

  test("source scan: only Materialize decides storage in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val owner = root.resolve("graft/ops/Materialize.scala")
    val banned = Seq("StorageLevel", ".persist(", ".localCheckpoint(")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner).toSeq
    assert(files.size > 50, s"scan found only ${files.size} files")
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${n + 1}: $b"
    assert(hits.isEmpty,
      "storage decisions belong in graft.ops.Materialize:\n" + hits.mkString("\n"))
  }
}
