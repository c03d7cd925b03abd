package graft.ops

import java.util.concurrent.{ConcurrentHashMap, TimeUnit, TimeoutException}

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}

/** Eager localCheckpoints with an RDD-level release handle, and the two
  * drivers every iterative loop runs on.
  *
  * `Dataset.unpersist` routes through the CacheManager, which does not
  * know about checkpoint blocks — `localCheckpoint` persists the
  * underlying RDD directly — so an iterative algorithm that
  * re-checkpoints per round and "unpersists" the superseded Dataset
  * actually leaves every round's blocks to the GC-driven
  * ContextCleaner. The handle returned here unpersists the exact RDD
  * the checkpoint registered (extracted from the checkpoint Dataset's
  * `LogicalRDD` plan), so a loop frees round r−1 the moment round r is
  * materialized.
  *
  * Safety contract: release ONLY state that nothing will read again —
  * local-checkpoint blocks are not recomputable, so an early release
  * of a still-referenced checkpoint fails the reader ("checkpoint
  * block not found") rather than silently recomputing.
  *
  * Iteration discipline: a loop's static sides (edges, nodes) are
  * checkpointed once, partitioned on the key every round joins on, so
  * after the first round the only exchange per round is the one the
  * algorithm needs. Per-round work then goes through [[checkpoint]]
  * (a probe rides the job that materializes the round, no separate
  * count or isEmpty action), and the round state through [[iterate]],
  * [[waves]] or a [[Carry]], which free each superseded checkpoint once
  * its successor is materialized.
  */
private[graft] object Checkpoints {

  private val NoRelease: () => Unit = () => ()

  /** How long [[checkpoint]] waits for its probe values. On a healthy
    * session they land with the action and this is never approached.
    */
  private val ProbeWaitMs = 10000L

  /** Checkpoint `df` eagerly; returns the checkpoint and a handle that
    * frees its storage. A no-op handle is returned in the (unexpected)
    * case the plan shape is not the LogicalRDD a local checkpoint
    * produces — cleanup then degrades to the old ContextCleaner path
    * instead of failing the query.
    */
  def withRelease(df: DataFrame): (DataFrame, () => Unit) = {
    val ck = df.localCheckpoint()
    val release: () => Unit = ck.queryExecution.analyzed match {
      case lr: LogicalRDD => () => { lr.rdd.unpersist(blocking = false); () }
      case _              => NoRelease
    }
    (ck, release)
  }

  /** `df.localCheckpoint()`, unless the optimizer already reduces `df`
    * to a local relation (rows held in the plan, such as the result of a
    * driver-side loop): checkpointing that would run a job to copy rows
    * that are already on the driver. [[release]] is a no-op for it.
    */
  def unlessLocal(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => df
    case _ => df.localCheckpoint()
  }

  /** Free the blocks of an ALREADY-checkpointed Dataset (memo caches
    * dropped by [[graft.trace.MemoLog.clearMemos]]). Same safety
    * contract as [[withRelease]]: only call once nothing will read the
    * checkpoint again.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }

  /** Named probe values: aggregates over one round's rows. */
  sealed trait Probed {
    def probes: Map[String, Any]
    /** A count or an exact-integer sum probe. */
    def long(probe: String): Long = probes(probe).asInstanceOf[Number].longValue
  }

  /** A frame with the values its [[checkpoint]] probes read and the
    * handle that frees its blocks. `fellBack` marks values recomputed
    * from the blocks because the observed ones did not arrive.
    * `Checkpoint(df)` wraps a lazy frame that nothing owns (no probes,
    * nothing to release), such as a loop's unmaterialized initial state.
    */
  final case class Checkpoint(df: DataFrame, probes: Map[String, Any] = Map.empty,
      fellBack: Boolean = false, release: () => Unit = NoRelease) extends Probed

  /** Checkpoint `df` eagerly, with `probes` (named aggregate columns)
    * attached as an observation, so the round's convergence numbers ride
    * the job that materializes it instead of a second action.
    *
    * Bounded read: observe-metrics-on-eager-localCheckpoint is a Spark
    * behaviour, not an API contract (AlgoSpec's "observe metrics arrive
    * from an eager localCheckpoint" test fails if it stops holding), and
    * an unbounded wait on the metrics would hang a loop forever if a
    * Spark upgrade re-routed the checkpoint's action. So the read waits
    * [[ProbeWaitMs]] and then computes the same columns over the
    * materialized blocks, `ck.agg(probes)`, and marks the result
    * `fellBack`.
    */
  def checkpoint(df: DataFrame, probes: Column*): Checkpoint =
    if (probes.isEmpty) {
      val (ck, rel) = withRelease(df)
      Checkpoint(ck, release = rel)
    } else {
      val obs = new Observation()
      val (ck, rel) = withRelease(df.observe(obs, probes.head, probes.tail: _*))
      val (row, fellBack) =
        try (Await.result(obs.future, Duration(ProbeWaitMs, TimeUnit.MILLISECONDS)), false)
        catch {
          case _: TimeoutException => (ck.agg(probes.head, probes.tail: _*).head(), true)
        }
      Checkpoint(ck, row.schema.fieldNames.zip(row.toSeq).toMap, fellBack, rel)
    }

  /** A frame a loop replaces again and again, starting from (and owning)
    * `init`. [[advance]] adds `weight` units of lineage (rounds, or
    * centers folded into a carried column) and checkpoints once `every`
    * units have piled up or on the `last` round; a superseded checkpoint
    * is freed only after its successor is materialized, since the
    * successor's plan reads it until then. [[close]] frees the last one:
    * call it only when nothing the caller returns reads [[df]].
    */
  final class Carry(init: Checkpoint, every: Int = 1) {
    private var current = init.df
    private var held = init.release
    private var since = 0

    def df: DataFrame = current

    def advance(next: DataFrame, weight: Int = 1, last: Boolean = false,
        probes: Seq[Column] = Nil): Checkpoint = {
      since += weight
      val ck =
        if (since < every && !last) Checkpoint(next)
        else {
          val c = checkpoint(next, probes: _*)
          held()
          held = c.release
          since = 0
          c
        }
      current = ck.df
      ck
    }

    def close(): Unit = { held(); held = NoRelease }
  }

  /** One round of an [[iterate]] loop: its index (0 is the initial
    * state), its probe values (empty for a round that was not
    * checkpointed) and whether they were read by the fallback.
    */
  final case class Round(index: Int, probes: Map[String, Any], fellBack: Boolean)
      extends Probed

  private val records = new ConcurrentHashMap[String, IndexedSeq[Round]]()

  /** The rounds of the most recent [[iterate]] call named `loop` on this
    * JVM, initial state first (bench/test telemetry: written once per
    * call, not safe under concurrent calls of the same loop).
    */
  def lastRounds(loop: String): IndexedSeq[Round] =
    records.getOrDefault(loop, IndexedSeq.empty)

  /** A state-replacing loop: round r (from 1) replaces the state with
    * `step(state, r)`. The state is checkpointed every `every` rounds and
    * on round `maxRounds`, with `probes` riding each checkpoint; the
    * superseded checkpoint (`init`'s included) is freed once its
    * successor is materialized. Before each round `stop` sees the record
    * so far and may end the loop. Returns the last state; the caller owns
    * its checkpoint. The record is kept under `loop` ([[lastRounds]]).
    */
  def iterate(loop: String, init: Checkpoint, maxRounds: Int, every: Int = 1,
      probes: Seq[Column] = Nil, stop: IndexedSeq[Round] => Boolean = _ => false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val state = new Carry(init, every)
    var record = Vector(Round(0, init.probes, init.fellBack))
    while (record.size <= maxRounds && !stop(record)) {
      val r = record.size
      val ck = state.advance(step(state.df, r), last = r == maxRounds, probes = probes)
      record :+= Round(r, ck.probes, ck.fellBack)
    }
    records.put(loop, record)
    state.df
  }

  /** Level-synchronous multi-root BFS: wave d (from 1) is
    * `expand(frontier of wave d−1, visited, d)`, checkpointed with its
    * row count as the emptiness probe. `visited` holds the `keys` of
    * every frontier so far, a lazy union re-checkpointed every 4 waves
    * to bound plan depth (each level is materialized once; re-
    * materializing the whole visited state per level makes a traversal
    * quadratic in depth). Stops on an empty frontier or after
    * `maxWaves` waves. Returns the frontiers, seed first; their
    * checkpoints back the caller's result and are not freed.
    */
  def waves(seed: DataFrame, keys: Seq[String], maxWaves: Int = Int.MaxValue)(
      expand: (DataFrame, DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
    val rowCount = count(lit(1)).as("n")
    var last = checkpoint(seed, rowCount)
    var frontiers = Vector(last.df)
    val visited = new Carry(Checkpoint(last.df.select(keys.map(col): _*)), every = 4)
    while (last.long("n") > 0L && frontiers.size <= maxWaves) {
      if (frontiers.size > 1)
        visited.advance(visited.df.unionByName(frontiers.last.select(keys.map(col): _*)))
      last = checkpoint(expand(frontiers.last, visited.df, frontiers.size), rowCount)
      if (last.long("n") == 0L) last.release() else frontiers :+= last.df
    }
    visited.close()
    frontiers
  }
}
