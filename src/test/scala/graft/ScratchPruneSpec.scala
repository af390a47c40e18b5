package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/**
 * The dead-pid prune of the per-process stream scratch dirs deletes a dir
 * only when its pid is not this JVM's, is not alive, and the dir is older
 * than the minimum age — a young dir may belong to a live process in
 * another PID namespace.
 */
class ScratchPruneSpec extends AnyFunSuite {

  test("prune keeps fresh or own dirs and removes old dirs of dead pids") {
    val tmp = Files.createTempDirectory("scratch_prune").toFile
    val now = System.currentTimeMillis()
    val old = now - SparkEntry.scratchPruneMinAgeMs - 60 * 1000L
    val deadPid = 999999999L // above any Linux pid_max
    val myPid = ProcessHandle.current().pid()
    def dir(name: String, mtime: Long): File = {
      val d = new File(tmp, name)
      assert(d.mkdir())
      Files.writeString(new File(d, "part").toPath, "x")
      assert(d.setLastModified(mtime))
      d
    }
    val freshDead = dir(s"graft_a_p$deadPid", now)
    val oldDead = dir(s"graft_b_p$deadPid", old)
    val oldMine = dir(s"graft_c_p$myPid", old)
    val oldOther = dir(s"other_p$deadPid", old)
    try {
      SparkEntry.pruneDeadScratch(tmp, myPid, now)
      assert(freshDead.exists(), "a fresh dir of a dead-looking pid must stay")
      assert(!oldDead.exists(), "an old dir of a dead pid must be removed")
      assert(oldMine.exists(), "this JVM's own dir must stay")
      assert(oldOther.exists(), "a dir outside the graft_*_p<pid> pattern must stay")
    } finally {
      Seq(freshDead, oldDead, oldMine, oldOther).foreach { d =>
        Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
      }
      tmp.delete()
    }
  }
}
