package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.AppSession
import graft.streaming.{DedupStream, NioCheckpointFileManager}

/** Streaming checkpoint files: the fork-free manager keeps the rename
  * semantics `HDFSMetadataLog` and the state store rely on, every session
  * builder registers it, and the JVM-long state-audit checkpoint survives
  * another JVM's stale-dir sweep. */
class CheckpointFilesSpec extends AnyFunSuite with SharedSpark {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator.asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("a no-overwrite collision fails atomically and keeps the existing file") {
    val dir = tmp("graft_ckpt_collide")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second batch", overwrite = false))
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"), "no temp file or checksum is left behind")
  }

  test("an overwrite removes a stale .crc, so open reads the new bytes") {
    val dir = tmp("graft_ckpt_crc")
    val fm = manager(dir)
    val p = new Path(dir.resolve("1.delta").toUri)
    // Hadoop's checksummed local filesystem writes the sibling .1.delta.crc
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val old = local.create(p)
    old.write("old bytes".getBytes(UTF_8))
    old.close()
    assert(names(dir) === Set("1.delta", ".1.delta.crc"))
    write(fm, p, "the new, longer bytes", overwrite = true)
    assert(names(dir) === Set("1.delta"))
    assert(read(fm, p) === "the new, longer bytes")
  }

  test("a cancelled createAtomic leaves no temp file") {
    val dir = tmp("graft_ckpt_cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("2").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a restarted query resumes at the next batch id with its state") {
    import spark.implicits._
    val base = tmp("graft_ckpt_restart")
    val (src, ckpt) = (base.resolve("src").toString, base.resolve("ckpt").toString)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String, Long)]()
    def runOnce(): Unit = {
      val q = spark.readStream.schema("k STRING").parquet(src)
        .groupBy("k").count()
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.collect().foreach(r => seen.add((id, r.getString(0), r.getLong(1)))): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "AvailableNow query must drain and stop")
    }
    Seq("a", "a", "b").toDF("k").coalesce(1).write.parquet(src)
    runOnce()
    val first = seen.asScala.toSet
    assert(first.map(_._1) === Set(0L))
    Seq("a", "c").toDF("k").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    // only the new file's keys are emitted, in batch 1, with counts carried
    // over from the state-store deltas of batch 0
    assert(seen.asScala.toSet -- first === Set((1L, "a", 3L), (1L, "c", 1L)))
    val commits = names(Paths.get(ckpt, "commits"))
    assert(commits === Set("0", "1"), "no batch re-ran or was skipped")
  }

  test("every session builder registers the manager") {
    val cls = classOf[NioCheckpointFileManager].getName
    assert(spark.conf.get(Key) === cls)
    assert(manager(tmp("graft_ckpt_fm")).isInstanceOf[NioCheckpointFileManager])
    // each builder reuses the active test session, applying its settings to
    // it: unset the key first, and put back whatever a builder changed
    def registers(build: => SparkSession): Boolean = {
      val before = spark.conf.getAll
      spark.conf.unset(Key)
      try build.conf.get(Key, "") == cls
      finally {
        val after = spark.conf.getAll.filter(kv => spark.conf.isModifiable(kv._1))
        before.foreach { case (k, v) => if (after.get(k).exists(_ != v)) spark.conf.set(k, v) }
        (after.keySet -- before.keySet).foreach(spark.conf.unset)
      }
    }
    assert(registers(AppSession.get("graft-ckpt-probe")._1))
    assert(registers(SparkLocal.session()))
  }

  test("a state audit whose checkpoint was swept re-drains instead of failing") {
    val dir = tmp("graft_ckpt_audit").toString
    import spark.implicits._
    (0L until 40L).map(i => (i, s"text_${i % 4}")).toDF("doc_id", "text")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    def audit(): Set[(String, Long, Long)] = {
      val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir)
      DedupStream.stateAudit(stream).as[(String, Long, Long)].collect().toSet
    }
    def auditDirs: Set[String] = names(Paths.get(SparkLocal.localDir))
      .filter(_.startsWith("graft_dedup_state_audit"))
    val (dirsBefore, drainsBefore) = (auditDirs, DedupStream.auditDrains.get())
    val first = audit()
    val drained = auditDirs -- dirsBefore
    assert(DedupStream.auditDrains.get() === drainsBefore + 1)
    assert(drained.size === 1)
    // what another JVM's sweep of dirs older than its cutoff does
    SparkLocal.removeScratch(Paths.get(SparkLocal.localDir, drained.head).toString)
    val second = audit()
    assert(DedupStream.auditDrains.get() === drainsBefore + 2)
    assert(second === first)
    assert(first.size === 4)
    // a hit touches its dir, so an aged checkpoint in use leaves the
    // sweep's reach
    val redrained = new java.io.File(SparkLocal.localDir, (auditDirs -- dirsBefore).head)
    assert(redrained.setLastModified(System.currentTimeMillis() - 3L * 3600 * 1000))
    assert(audit() === first)
    assert(DedupStream.auditDrains.get() === drainsBefore + 2)
    assert(System.currentTimeMillis() - redrained.lastModified() < 3600L * 1000)
  }
}
