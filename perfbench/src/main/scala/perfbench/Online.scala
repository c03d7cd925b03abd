package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api._
import graft.core.GraphStore
import graft.ext._
import graft.ops.TemporalOps

/** One request of the closed-loop client script. Update and delete
  * targets are drawn at run time from the ids the client has learned;
  * `stale` asks for an id the client already deleted, whose call must
  * report false.
  */
sealed trait Req { def kind: String }
final case class SearchReq(query: String) extends Req { def kind = "search" }
final case class AddReq(text: String) extends Req { def kind = "add" }
final case class UpdateReq(pick: Double, text: String, stale: Boolean) extends Req {
  def kind = "update"
}
final case class DeleteReq(pick: Double, stale: Boolean) extends Req { def kind = "delete" }
final case class IngestReq(texts: Seq[String]) extends Req { def kind = "ingest" }
/** Sets the importance of an other-tenant row until `searches` more
  * searches end on a store checkpoint: see [[Online.warmup]].
  */
final case class AlignReq(searches: Int) extends Req { def kind = "align" }

/** A seeded store, the managers of its two tenants, and the client's
  * view of the benchmark user's memories. `otherIds` are the second
  * tenant's rows.
  */
final case class Session(store: GraphStore, m: MemoryManager, client: Client,
    other: MemoryManager, otherIds: Seq[String])

/** The client's view of its own memories: every id a call returned,
  * minus the ids it deleted.
  */
final class Client {
  val live = mutable.ArrayBuffer.empty[String]
  private val liveSet = mutable.HashSet.empty[String]
  val deleted = mutable.ArrayBuffer.empty[String]
  def learn(ids: Seq[String]): Unit = ids.foreach { id =>
    if (liveSet.add(id)) live += id
  }
  def knows(id: String): Boolean = liveSet.contains(id)
  def target(pick: Double, stale: Boolean): String =
    if (stale && deleted.nonEmpty) deleted((pick * deleted.size).toInt)
    else live((pick * live.size).toInt)
  def forget(id: String): Unit = if (liveSet.remove(id)) {
    live -= id; deleted += id
  }
}

/** Online phase: builds the store the way the stdio server does, then
  * drives `MemoryManager` with one client thread.
  */
final class Online(spark: SparkSession, spec: Spec, seed: Long, trace: Option[Trace],
    digest: Digest, errors: Errors) {

  val User = "u0"
  private val rng = new Gen.Rng(seed)
  private val people = Gen.people(rng, spec.people)
  private val seedTexts = Seq.fill(spec.seedTexts)(Gen.memoryText(rng, people))
  private val bulkOwn = Seq.fill(spec.bulkOwn)(Gen.bulkText(rng))
  private val bulkOther = Seq.fill(spec.bulkOther)(Gen.bulkText(rng))
  private def ms(i: Int): Option[Long] = Some(Gen.T0 + i * 60000L)

  /** Add and ingest events by type (ADD / UPDATE / ...), for the log. */
  val events = mutable.TreeMap.empty[String, Int]
  private def count(ev: Seq[MemoryEvent]): Unit =
    ev.foreach(e => events(e.event) = events.getOrElse(e.event, 0) + 1)

  private def config(user: String) = MemoryConfig(userId = user,
    enableImportance = true, enableTopologyBoost = true)

  private def manager(store: GraphStore, user: String): MemoryManager = {
    val ext = trace.map(_.ext)
    new MemoryManager(spark, config(user), store,
      ext.fold[Embedder](new MockEmbedder(16))(new TimedEmbedder(new MockEmbedder(16), _)),
      ext.fold[Extractor](new HeuristicExtractor)(new TimedExtractor(new HeuristicExtractor, _)),
      ext.fold[Reconciler](new WorksAtReconciler)(new TimedReconciler(new WorksAtReconciler, _)),
      clock = () => Gen.T0,
      tracer = trace.fold[graft.trace.Tracer](graft.trace.NoopTracer)(_.tracer))
  }

  /** Seeds a fresh store: entity-bearing memories through the reconcile
    * path on the empty store, then bulk rows for this user and for a
    * second tenant whose rows must never appear in this user's results.
    */
  def setup(): Session = {
    val store = new GraphStore(spark)
    val m = manager(store, User)
    val other = manager(store, "u1")
    val client = new Client
    val res = m.addReconcileBatch(seedTexts, now = Some(Gen.T0 - 86400000L))
    client.learn(res.flatMap(_.events).flatMap(_.memoryId))
    if (bulkOwn.nonEmpty)
      client.learn(m.addBatch(bulkOwn, now = Some(Gen.T0 - 43200000L)))
    val otherIds = other.addBatch(bulkOther, now = Some(Gen.T0 - 43200000L))
    Session(store, m, client, other, otherIds)
  }

  private def search = SearchReq(Gen.queryText(rng, people))
  private def add = AddReq(Gen.memoryText(rng, people))
  // every second update and delete targets an id the client already deleted
  private def update(i: Int) = UpdateReq(rng.double(), Gen.memoryText(rng, people), i % 2 == 1)
  private def delete(i: Int) = DeleteReq(rng.double(), i % 2 == 1)
  private def ingest = IngestReq(Seq.fill(spec.ingestSize)(Gen.memoryText(rng, people)))

  /** Untimed warm-up: every write kind the script issues once, then two
    * searches, so the JIT has seen every path and the script starts from
    * warm memos. Every search bumps access counts, a store write, so
    * search latency grows with the lineage since the store's last
    * checkpoint (every [[Online.CheckpointEvery]] writes), and adds write
    * a seed-dependent number of times. Between the searches, `AlignReq`
    * brings the store to the point where the last warm-up search
    * triggers a checkpoint, so every seed starts the script at the same
    * point of that cycle. Its importance patches touch neither the text
    * nor the graph version, so the memos stay warm.
    */
  val warmup: Seq[Req] = {
    val writes = Seq(spec.adds -> (() => add), spec.updates -> (() => update(0)),
      spec.deletes -> (() => delete(0)))
    writes.collect { case (n, req) if n > 0 => req() } ++ Seq(search, AlignReq(1), search)
  }

  /** The timed script, a fixed number of requests whose kinds come in the
    * same order for every seed; only texts and targets depend on it.
    */
  val script: Seq[Req] = Online.interleave(Seq(
    Seq.fill(spec.adds)(add), Seq.fill(spec.searches)(search),
    Seq.tabulate(spec.updates)(update), Seq.tabulate(spec.deletes)(delete)))

  /** Corpus refresh after the script: fixed-size reconcile batches. */
  val refresh: Seq[Req] = Seq.fill(spec.ingests)(ingest)

  /** Runs one request, checks its response and folds it into the
    * digest.
    */
  def run(session: Session, req: Req, step: Int): Unit = {
    val Session(store, m, client, other, otherIds) = session
    req match {
      case AlignReq(searches) =>
        val t0 = System.nanoTime()
        val w0 = store.writeVersion
        while ((store.writeVersion + searches) % Online.CheckpointEvery != 0) {
          val ok = other.setImportance(otherIds.head, 0.5)
          errors.check(ok, s"setImportance(${otherIds.head}) of the other tenant returned false")
        }
        System.err.println(f"align ${store.writeVersion - w0} pads ${(System.nanoTime() - t0) / 1e9}%.2f s")
      case SearchReq(q) =>
        val rs = m.search(q, k = 10, now = ms(step))
        digest.add("search", rs.map(r => s"${r.memoryId}:${Digest.round6(r.score)}"))
        errors.check(rs.size <= 10, s"search returned ${rs.size} > 10 results")
        rs.foreach { r =>
          errors.check(r.userId == User, s"result ${r.memoryId} of user ${r.userId}")
          errors.check(r.expiredAt.isEmpty, s"result ${r.memoryId} is expired")
          errors.check(client.knows(r.memoryId), s"result ${r.memoryId} is deleted or unknown")
        }
        if (!TemporalOps.detectTemporalHints(q).sortChronologically)
          errors.check(rs.map(_.score).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)),
            s"scores not sorted for '$q'")
      case AddReq(text) =>
        val ev = m.add(text, now = ms(step)).events
        count(ev)
        digest.add("add", ev.map(e => s"${e.event}:${e.memoryId.getOrElse("")}"))
        val ids = ev.flatMap(_.memoryId)
        errors.check(ids.nonEmpty && ids.forall(!client.knows(_)), s"add returned ids $ids")
        client.learn(ids)
      case IngestReq(texts) =>
        val res = m.addReconcileBatch(texts, now = ms(step))
        val ev = res.flatMap(_.events)
        count(ev)
        digest.add("ingest", ev.map(e => s"${e.event}:${e.memoryId.getOrElse("")}"))
        errors.check(res.size == texts.size && ev.nonEmpty, "ingest result not index-aligned")
        client.learn(ev.flatMap(_.memoryId))
      case UpdateReq(pick, text, stale) =>
        val id = client.target(pick, stale)
        val ok = m.update(id, text, now = ms(step))
        digest.add("update", Seq(s"$id:$ok"))
        errors.check(ok == client.knows(id), s"update($id) returned $ok")
      case DeleteReq(pick, stale) =>
        val id = client.target(pick, stale)
        val ok = m.delete(id)
        digest.add("delete", Seq(s"$id:$ok"))
        errors.check(ok == client.knows(id), s"delete($id) returned $ok")
        client.forget(id)
    }
  }
}

object Online {
  /** Store-wide checkpoint cadence of `new GraphStore(spark)`. */
  val CheckpointEvery = 16L

  /** Merges the lists so each is spread evenly over the result: the next
    * element comes from the list that is furthest behind its share.
    */
  def interleave[T](lists: Seq[Seq[T]]): Seq[T] = {
    val taken = Array.fill(lists.size)(0)
    val total = lists.map(_.size).sum
    (1 to total).map { step =>
      val i = lists.indices.filter(j => taken(j) < lists(j).size)
        .minBy(j => (taken(j) + 1.0) / lists(j).size)
      taken(i) += 1
      lists(i)(taken(i) - 1)
    }
  }
}
