package graft

import org.apache.spark.scheduler.SparkListenerJobStart

package object tools {

  /** The job's `callSite.short` property — the submitting action's
    * frame inside the operator, e.g. "localCheckpoint at
    * Similarity.scala:209" ("" when unset). */
  private[tools] def callSite(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("")

  /** Waits until a listener has seen the events already posted: the
    * bus is async and its `waitUntilEmpty` is private. A fixed sleep
    * silently dropped late events on loaded boxes, so this polls
    * `count` until it holds for three 100 ms polls, for 5 s at most. */
  private[tools] def settle(count: () => Int): Unit = {
    var lastN = -1
    var settledPolls = 0
    var waitedMs = 0
    while (settledPolls < 3 && waitedMs < 5000) {
      Thread.sleep(100); waitedMs += 100
      val n = count()
      if (n == lastN) settledPolls += 1
      else { settledPolls = 0; lastN = n }
    }
  }
}
