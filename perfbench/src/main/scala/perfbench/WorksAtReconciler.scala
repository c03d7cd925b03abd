package perfbench

import graft.ext.{Decision, DecisionAction, Reconciler}

/** Deterministic reconciler for the online workloads: a new
  * "<person> works at <company>" fact UPDATEs a candidate that states
  * the same person's employer; every other fact is an ADD. This drives
  * the SCD2 path (expire + SUPERSEDES edge + history row), which an
  * add-everything reconciler never reaches.
  */
final class WorksAtReconciler extends Reconciler {
  override def reconcile(facts: Seq[String],
      candidates: Seq[(Long, String)]): Seq[Decision] =
    facts.map { f =>
      WorksAtReconciler.person(f)
        .flatMap(p => candidates.find { case (_, t) =>
          WorksAtReconciler.person(t).contains(p) })
        .map { case (id, _) => Decision(DecisionAction.Update, f, Some(id)) }
        .getOrElse(Decision(DecisionAction.Add, f, None))
    }
}

object WorksAtReconciler {
  private val WorksAt = "^(.+?) works at .+$".r
  def person(fact: String): Option[String] = fact match {
    case WorksAt(p) => Some(p)
    case _ => None
  }
}
