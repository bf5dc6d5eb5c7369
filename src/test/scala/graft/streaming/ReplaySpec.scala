package graft.streaming

import java.io.File

import graft.operators.{StreamGate, V2SourceGate}
import org.scalatest.funsuite.AnyFunSuite

/** The replay scratch dirs: one per name, wiped on every call. No Spark. */
class ReplaySpec extends AnyFunSuite {
  test("a second scratch call with the same name wipes the first's contents") {
    val dir = Replay.scratch("replayspec_wipe")
    assert(new File(s"$dir/ckpt/0").mkdirs())
    assert(Replay.scratch("replayspec_wipe") == dir)
    assert(!new File(s"$dir/ckpt").exists())
  }

  test("two names give two dirs") {
    val a = Replay.scratch("replayspec_a")
    val b = Replay.scratch("replayspec_b")
    assert(a != b)
    assert(new File(a).getParent == new File(b).getParent)
  }

  test("the stw and v2 q11sess replays get different dirs") {
    val stw = StreamGate.base("q11sess")
    val v2 = V2SourceGate.base("q11sess")
    assert(stw != v2)
    assert(new File(stw).getName.contains("q11sess") &&
      new File(v2).getName.contains("q11sess"))
  }
}
