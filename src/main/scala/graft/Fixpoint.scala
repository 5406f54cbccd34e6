package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one loop behind the library's iterative jobs (connected
  * components, the k-core peel, BFS layers, label propagation).
  *
  * Snapshot rule: the seed and every round's frame are snapshotted
  * eagerly — `localCheckpoint`, or `checkpoint` to `checkpointDir` when
  * one is given, so a lost executor replays from the last round rather
  * than from the raw input. The next round's plan therefore reads a
  * one-round-deep leaf instead of re-executing every earlier round.
  *
  * Stop rule: each snapshotted frame carries one `Long` aggregate, the
  * loop's `measure`, attached with `Dataset.observe`. The snapshot's own
  * job fills it, so testing for the fixpoint costs no second job. A null
  * aggregate (a `sum` over no rows) reads as 0. `done(previous, current)`
  * sees the measures of the last two snapshots; the seed is tested
  * against 0, the measure of the empty state.
  *
  * Jobs run under the description `"<loop> seed"` and then
  * `"<loop> round k"`; the caller's description is restored on return,
  * also when the loop throws. */
object Fixpoint {

  /** A loop that must converge was still changing at its round cap. */
  final class NotConverged(loop: String, rounds: Int)
    extends IllegalArgumentException(
      s"$loop did not converge within $rounds rounds")

  /** How long a finished snapshot may take to deliver its measure: the
    * listener bus hands it over asynchronously, normally within
    * milliseconds. */
  private val MeasureWait = 60.seconds

  /** The local property `SparkContext.setJobDescription` writes. */
  private val JobDescription = "spark.job.description"

  /** Run `step` from `seed` until `done` holds or `maxRounds` rounds
    * have run, and return the last snapshot with the number of rounds.
    * At the cap an unconverged loop throws [[NotConverged]] when
    * `failAtCap`, and otherwise returns normally (a fixed-horizon or
    * depth-capped loop). */
  def iterate(loop: String, seed: DataFrame, maxRounds: Int,
              failAtCap: Boolean, checkpointDir: Option[String] = None)(
      step: DataFrame => DataFrame)(
      measure: Column, done: (Long, Long) => Boolean): (DataFrame, Int) = {
    val sc = seed.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    val callerDescription = sc.getLocalProperty(JobDescription)
    def snapshot(df: DataFrame, name: String): (DataFrame, Long) = {
      sc.setJobDescription(s"$loop $name")
      val obs = Observation()
      val observed = df.observe(obs, measure.as("measure"))
      val snap =
        if (checkpointDir.isDefined) observed.checkpoint(eager = true)
        else observed.localCheckpoint(eager = true)
      val row =
        try Await.result(obs.future, MeasureWait)
        catch {
          case _: TimeoutException => throw new IllegalStateException(
            s"$loop $name: the observed measure did not arrive within " +
              MeasureWait)
        }
      (snap, if (row.isNullAt(0)) 0L else row.getAs[Number](0).longValue)
    }
    try {
      var (state, last) = snapshot(seed, "seed")
      var converged = done(0L, last)
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        rounds += 1
        val (next, m) = snapshot(step(state), s"round $rounds")
        converged = done(last, m)
        state = next
        last = m
      }
      if (!converged && failAtCap) throw new NotConverged(loop, rounds)
      (state, rounds)
    } finally sc.setLocalProperty(JobDescription, callerDescription)
  }
}
