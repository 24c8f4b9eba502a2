package graft

import org.apache.spark.sql.Observation
import scala.concurrent.duration.DurationInt

/** The one wait for the `observe()` metrics of a frame handed to a
  * caller's `write` (`Transfer.migrate`) or `sink` (`Pipeline.curate`).
  * Once that function has returned, its action either already ran or
  * never will: a function that runs no action is an error, not a hang. */
private[graft] object Observed {
  def metrics(obs: Observation, op: String, fn: String): Map[String, Any] =
    try { scala.concurrent.Await.ready(obs.future, 30.seconds); obs.get }
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(s"$op: no observed metrics after 30s" +
        s" — the supplied `$fn` must run exactly one Spark action over the" +
        " frame it is given") }
}
