package graft.ckpt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The durability policy of an iterative Spark loop (PageRank's power
  * method, the connected-components star rounds), per SURVEY.md §4: cut
  * each round's lineage, commit every `every`-th round as a [[Snapshots]]
  * snapshot, and resume a rerun on the same input from the newest
  * committed round.
  *
  * A round cut is a LAZY localCheckpoint: the caller's aggregate over the
  * cut frame is the round's one materializing job, and only after it are
  * the previous round's checkpoint blocks freed (left cached, they fill
  * the block manager and mid-run rounds degrade 10-20x). The last cut
  * stays: it backs the frame the loop returns.
  *
  * A committed manifest's lineage is the input identity given to
  * [[resume]] (call it before the first commit), `round:<completed
  * rounds>`, then the loop's own state tokens. Without a non-empty
  * `ckptRoot` nothing is committed or resumed.
  */
final class RoundLoop(spark: SparkSession, stage: String, ckptRoot: Option[String],
    every: Int) {

  private val root = ckptRoot.filter(_.nonEmpty)
  private var inputId = ""
  private var live: DataFrame = null // the cut backing the working frame

  def durable: Boolean = root.isDefined

  /** The newest committed round of `id` (the input's identity, recorded
    * in every commit from here on) if it completed at most `upTo` rounds:
    * its frame, completed-round count and state tokens. Resuming frees the
    * current cut. */
  def resume(id: String, upTo: Int = Int.MaxValue): Option[(DataFrame, Int, Seq[String])] = {
    inputId = id
    for {
      r <- root
      (path, m) <- Snapshots.latest(spark, r, stage)
      if m.inputs.headOption.contains(id)
      rounds <- m.inputs.lift(1).filter(_.startsWith("round:")).map(_.drop(6).toInt)
      if rounds <= upTo
    } yield {
      release()
      (spark.read.parquet(path), rounds, m.inputs.drop(2))
    }
  }

  /** Cut `df`'s lineage, run `materialize` (the round's one job) on the
    * cut, then free the previous round's blocks. */
  def cut[A](df: DataFrame)(materialize: DataFrame => A): (DataFrame, A) = {
    val next = df.localCheckpoint(false)
    val a = materialize(next)
    release()
    live = next
    (next, a)
  }

  /** Commit `cur` after `round` completed rounds if the round is due
    * (every `every`-th, or `last`), and return it re-rooted on the
    * committed parquet; otherwise return `cur`. */
  def commit(cur: DataFrame, round: Int, state: => Seq[String],
      last: Boolean = false): DataFrame =
    root match {
      case Some(r) if round % every == 0 || last =>
        val (path, _) = Snapshots.commit(cur, r, stage,
          Seq(inputId, s"round:$round") ++ state)
        release()
        spark.read.parquet(path)
      case _ => cur
    }

  /** Free the current cut (the working frame no longer needs it). */
  def release(): Unit = {
    if (live != null) Bridge.unpersistLocalCheckpoint(live)
    live = null
  }
}

object RoundLoop {

  /** Edge-count gate of the iterative graph solves (PageRank, connected
    * components): at or below it the edges are collected once and solved
    * on the driver, since 2M edges are tens of MB there and a distributed
    * round at that size costs scheduling latency, not compute. */
  val LocalSolveEdges: Long = 2000000L
}
