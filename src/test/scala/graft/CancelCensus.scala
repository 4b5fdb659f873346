package graft

import scala.collection.mutable

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunAborted, RunCompleted, RunStopped, TestCanceled}

/** Prints, when the test run ends, how many tests were canceled and
  * which. `build.sbt` registers it with ScalaTest's `-C`: a forked sbt
  * run prints no end-of-run reminder, and sbt's JUnit XML records a
  * canceled test as passed, so without it a cancel is one line lost in
  * the log. It only reports; it changes no outcome. */
class CancelCensus extends Reporter {
  private val canceled = mutable.ArrayBuffer.empty[String]

  def apply(event: Event): Unit = synchronized {
    event match {
      case e: TestCanceled => canceled += s"${e.suiteName}: ${e.testName}"
      case _: RunCompleted | _: RunStopped | _: RunAborted =>
        println(s"[census] canceled tests: ${canceled.size}")
        canceled.sorted.foreach(n => println(s"[census]   $n"))
      case _ =>
    }
  }
}
