package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract of the dead-process scratch reclamation: dirs whose owning
  * pid is gone are deleted; live owners — including this JVM — and
  * unrelated names are never touched; junk that defeats the pid parse is
  * ignored rather than fatal. Pid recycling is detected by START TIME
  * (a process that started after the dir's last write cannot own it),
  * never by age alone — write-once scratch of a live owner must survive
  * indefinitely. Legacy fixed names are reclaimed only past a grace
  * period. Stage-suffixed crash leftovers (`..._p<pid>__upserting`)
  * resolve to their pid and are reclaimable. */
class ScratchSweepSpec extends AnyFunSuite {

  private def deadPid: Long = {
    // walk down from a high pid until one is not alive (Linux default
    // pid_max is 4194304, so this terminates almost immediately)
    var p = 4000000L
    while (ProcessHandle.of(p).isPresent) p -= 1
    p
  }

  test("sweep: dead pids, recycled pids, and aged legacy reclaimed; live owners survive") {
    val parent = java.nio.file.Files.createTempDirectory("graft-sweep-spec").toFile
    def mk(name: String): java.io.File = {
      val d = new java.io.File(parent, name)
      assert(d.mkdir()); d
    }
    def age(d: java.io.File, hours: Long): Unit =
      assert(d.setLastModified(System.currentTimeMillis() - hours * 3600 * 1000))
    val mine = ProcessHandle.current().pid()
    // a freshly spawned child stands in for a RECYCLED pid: it is alive,
    // but its start time is AFTER any dir mtime set in the past
    val child = new ProcessBuilder("sleep", "120").start()
    try {
      val dead = mk(s"graft_scratch_x_p$deadPid")
      val deadSuffixed = mk(s"graft_scratch_y_p${deadPid}__upserting")
      val live = mk(s"graft_scratch_x_p$mine")
      val mineOld = mk(s"graft_scratch_w_p$mine")
      age(mineOld, 48) // our own write-once scratch: old mtime, still ours
      val recycled = mk(s"graft_scratch_z_p${child.pid()}")
      age(recycled, 2) // written before the "owner" started → orphan
      val childFresh = mk(s"graft_scratch_v_p${child.pid()}")
      // fresh mtime (>= child start - slack) → could genuinely be the
      // child's → must survive
      val legacyFresh = mk("graft_scratch")
      val legacyOld = mk("graft_scratch_old_name")
      age(legacyOld, 48)
      val unrelated = mk("someone_elses_dir_p1")
      age(unrelated, 48)
      val noPid = mk("graft_scratch_nopid")
      val overflow = mk("graft_scratch_y_p99999999999999999999") // > Long.MaxValue

      Scratch.sweep(parent, Seq("graft_scratch_"),
        legacy = Seq("graft_scratch", "graft_scratch_old_name"))

      assert(!dead.exists(), "dead-pid dir must be reclaimed")
      assert(!deadSuffixed.exists(), "stage-suffixed dead-pid leftover must be reclaimed")
      assert(!recycled.exists(), "live pid that STARTED after the dir's mtime is an orphan")
      assert(childFresh.exists(), "live pid with plausible ownership must survive")
      assert(live.exists(), "live-pid dir must survive")
      assert(mineOld.exists(), "our own write-once scratch survives regardless of age")
      assert(!legacyOld.exists(), "legacy dir past the grace period must be reclaimed")
      assert(legacyFresh.exists(), "fresh legacy dir must survive (still-running pre-suffix JVM)")
      assert(unrelated.exists(), "non-matching prefix must survive regardless of age")
      assert(noPid.exists(), "prefix match without a pid suffix must survive")
      assert(overflow.exists(), "unparseable pid must be skipped, not fatal")
    } finally {
      child.destroyForcibly()
      org.apache.commons.io.FileUtils.deleteQuietly(parent)
    }
  }
}
