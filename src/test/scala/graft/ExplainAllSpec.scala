package graft

import org.scalatest.funsuite.AnyFunSuite

/** `ExplainAll.stable`: the run-specific tokens of a plan dump read as
  * fixed ones, and nothing else is rewritten. */
class ExplainAllSpec extends AnyFunSuite {
  private val pid = ProcessHandle.current().pid()

  test("stable: the pid is masked only in directory names, ids renumber") {
    val plan =
      s"Scan parquet [file:/tmp/graft-ivfidx-ab12-$pid/corpus] " +
        s"[x#$pid, y#41, (x#$pid + $pid) AS z#7] " +
        s"Checkpoint /tmp/graft-ckpt-drain-$pid-3 MapPartitionsRDD[$pid]"
    assert(tools.ExplainAll.stable(plan) ==
      "Scan parquet [file:/tmp/graft-ivfidx-ab12-<pid>/corpus] " +
        s"[x#1, y#2, (x#1 + $pid) AS z#3] " +
        "Checkpoint /tmp/graft-ckpt-drain-<pid>-3 MapPartitionsRDD[1]")
  }
}
