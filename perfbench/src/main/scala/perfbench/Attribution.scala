package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.ext._
import graft.trace.Tracer

/** Who paid for a Spark job: the innermost facade span, or the catalog
  * query the batch phase is running. Carried as a job-local property, so
  * it arrives with `SparkListenerJobStart.properties`.
  */
object Owner {
  val Key = "perfbench.owner"
  def span(id: Long): String = s"span:$id"
  def query(name: String): String = s"query:$name"
}

/** One finished facade span. `startMs`/`endMs` share Spark's event clock
  * (epoch ms) so stage intervals can be clipped against them.
  */
final case class SpanRec(id: Long, name: String, parent: Long,
    startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Tracer passed through `MemoryManager`'s `tracer` parameter: records
  * span intervals and marks the calling thread's jobs with the
  * innermost open span.
  */
final class SpanTracer(@transient sc: SparkContext) extends Tracer {
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val done = new ConcurrentLinkedQueue[SpanRec]()

  override def span[T](name: String, attrs: Map[String, String])(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val prevOwner = sc.getLocalProperty(Owner.Key)
    open.set(id :: stack)
    sc.setLocalProperty(Owner.Key, Owner.span(id))
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try f
    finally {
      done.add(SpanRec(id, name, stack.headOption.getOrElse(0L), startMs,
        startMs + (System.nanoTime() - t0) / 1e6))
      open.set(stack)
      sc.setLocalProperty(Owner.Key, prevOwner)
    }
  }

  def spans: Seq[SpanRec] = done.asScala.toSeq
}

/** Work one completed stage did. */
final case class StageRec(owner: String, tasks: Int, startMs: Long,
    endMs: Long, cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** The single listener of a traced run: charges each job and stage to
  * the owner its job carried (see [[Owner]]).
  */
final class WorkListener extends SparkListener {
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobOwners = new ConcurrentLinkedQueue[String]()
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Owner.Key)))
      .getOrElse("none")
    jobOwners.add(owner)
    e.stageIds.foreach(stageOwner.put(_, owner))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageRecs.add(StageRec(
      Option(stageOwner.get(i.stageId)).getOrElse("none"), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsByOwner: Map[String, Int] =
    jobOwners.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
  def stagesByOwner: Map[String, Seq[StageRec]] = stageRecs.asScala.toSeq.groupBy(_.owner)
}

/** Totals of one kind of model call. */
final class CallCounter {
  private val calls = new AtomicLong(0)
  private val items = new AtomicLong(0)
  private val nanos = new AtomicLong(0)
  def time[T](n: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      calls.incrementAndGet(); items.addAndGet(n)
      nanos.addAndGet(System.nanoTime() - t0)
    }
  }
  def reset(): Unit = { calls.set(0); items.set(0); nanos.set(0) }
  def nCalls: Long = calls.get()
  def nItems: Long = items.get()
  def ms: Double = nanos.get() / 1e6
}

/** Call counters around the injected model traits. */
final class ExtCounters {
  val embed, extract, queryEntities, reconcile = new CallCounter
  def reset(): Unit = Seq(embed, extract, queryEntities, reconcile).foreach(_.reset())
}

final class TimedEmbedder(inner: Embedder, c: ExtCounters) extends Embedder {
  override def dimensions: Int = inner.dimensions
  override def embed(texts: Seq[String]): Seq[Array[Float]] =
    c.embed.time(texts.size)(inner.embed(texts))
  override def embedOne(text: String): Array[Float] =
    c.embed.time(1)(inner.embedOne(text))
}

final class TimedExtractor(inner: Extractor, c: ExtCounters) extends Extractor {
  override def extract(text: String): Extraction = c.extract.time(1)(inner.extract(text))
  override def extractFactsOnly(text: String): Seq[String] = inner.extractFactsOnly(text)
  override def extractEntitiesOnly(
      text: String): (Seq[ExtractedEntity], Seq[ExtractedRelation]) =
    inner.extractEntitiesOnly(text)
  override def extractQueryEntities(query: String): Seq[ExtractedEntity] =
    c.queryEntities.time(1)(inner.extractQueryEntities(query))
  override def annotateTemporal(facts: Seq[String]): Seq[TemporalAnnotation] =
    inner.annotateTemporal(facts)
}

final class TimedReconciler(inner: Reconciler, c: ExtCounters) extends Reconciler {
  override def reconcile(facts: Seq[String],
      candidates: Seq[(Long, String)]): Seq[Decision] =
    c.reconcile.time(facts.size)(inner.reconcile(facts, candidates))
  override def reconcileRelations(newRelations: Seq[ExtractedRelation],
      existing: Seq[ExtractedRelation]): Seq[ExtractedRelation] =
    inner.reconcileRelations(newRelations, existing)
}

/** Per-owner work summary derived from the listener's records. */
final case class Work(jobs: Int, stages: Int, tasks: Long, cpuMs: Double,
    shuffleWriteBytes: Long, spillBytes: Long, stageIntervals: Seq[(Long, Long)])

object Work {
  def of(l: WorkListener, owners: Set[String]): Work = {
    val jobs = l.jobsByOwner
    val st = l.stagesByOwner
    val recs = owners.toSeq.flatMap(o => st.getOrElse(o, Nil))
    Work(owners.toSeq.map(o => jobs.getOrElse(o, 0)).sum, recs.size,
      recs.map(_.tasks.toLong).sum, recs.map(_.cpuNs).sum / 1e6,
      recs.map(_.shuffleWriteBytes).sum, recs.map(_.spillBytes).sum,
      recs.map(r => (r.startMs, r.endMs)))
  }

  /** Wall time of [startMs, endMs] during which none of `intervals` ran:
    * planning, codegen, scheduling and driver-side code.
    */
  def gapMs(startMs: Double, endMs: Double, intervals: Seq[(Long, Long)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (endMs - startMs) - covered)
  }
}
