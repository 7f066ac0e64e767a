package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Scratch-dir placement ([[SparkLocal]]): the stale-dir sweep runs once
  * per JVM, so a long-lived JVM never deletes its own live dirs. */
class SparkLocalSpec extends AnyFunSuite {

  test("freshStreamCheckpoint does not sweep a dir that aged past the cutoff") {
    val root = SparkLocal.localDir
    val live = new File(root, s"graft_sweep_probe_${System.nanoTime()}")
    assert(live.mkdir())
    try {
      // older than the 2 h cutoff, as the audit checkpoint of a JVM that
      // has run for 3 h
      assert(live.setLastModified(System.currentTimeMillis() - 3L * 3600 * 1000))
      val ckpt = SparkLocal.freshStreamCheckpoint("graft_sweep_probe")
      SparkLocal.removeScratch(ckpt)
      assert(live.isDirectory)
    } finally SparkLocal.removeScratch(live.getPath)
  }
}
