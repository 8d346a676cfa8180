package graft.operators

import org.apache.spark.sql.{Dataset, Encoders}

/** Per-bug historic state reconstruction (SURVEY §2.11 I2): walk the
  * change history backwards from the current state, un-applying each
  * field change (keywords are comma-space-joined add/remove lists;
  * user_story changes are unified diffs reverse-applied via
  * [[DiffPatch.reverseApplyDiff]]) — reference:
  * /root/reference/jobs/webcompat-kb/webcompat_kb/etl/
  * metric_changes.py:228-314 (`bugs_historic_states`), with the dedup of
  * consecutive identical change rows (metric_changes.py:253-257).
  *
  * Scale: reconstruction is independent per bug — `historicStates` runs
  * it inside mapGroups keyed by bug id, so history length bounds
  * per-task memory, not total history size.
  */
object HistoricStates {

  final case class BugState(status: String, product: String, component: String,
      keywords: Seq[String], url: String, userStory: String)
  final case class FieldChange(field: String, removed: String, added: String)
  final case class BugChange(changeTime: String, changes: Seq[FieldChange])
  final case class BugHistory(number: Long, current: BugState, changes: Seq[BugChange])
  final case class BugStates(number: Long, states: Seq[BugState])

  private def splitList(s: String): Seq[String] =
    if (s == null || s.isEmpty) Seq.empty else s.split(", ").toSeq.filter(_.nonEmpty)

  /** Un-apply one change to a state (newest state + change → prior). */
  def unapply(state: BugState, change: BugChange): BugState =
    change.changes.foldLeft(state) { (st, fc) =>
      fc.field match {
        case "status" =>
          if (fc.removed.nonEmpty) st.copy(status = fc.removed) else st
        case "product" =>
          if (fc.removed.nonEmpty) st.copy(product = fc.removed) else st
        case "component" =>
          if (fc.removed.nonEmpty) st.copy(component = fc.removed) else st
        case "url" => st.copy(url = fc.removed)
        case "keywords" =>
          val afterRemove = st.keywords.filterNot(splitList(fc.added).contains)
          st.copy(keywords = (afterRemove ++ splitList(fc.removed)).distinct)
        case "cf_user_story" =>
          st.copy(userStory = DiffPatch.reverseApplyDiff(st.userStory, fc.added))
        case _ => st
      }
    }

  /** Current state + changes → all states, newest first (the
    * reference's layout: head = current, tail = prior states in
    * chronological order of becoming stale). Changes are sorted
    * chronologically FIRST, then consecutive identical rows of the
    * sorted history are deduplicated (metric_changes.py:253-257 dedups
    * the sorted history — the same operation on unordered input keeps
    * a different set of rows). */
  def reconstruct(current: BugState, changes: Seq[BugChange]): Seq[BugState] = {
    val sorted = changes.sortBy(_.changeTime)
    val deduped = sorted.foldRight(List.empty[BugChange]) { (c, acc) =>
      acc match {
        case h :: _ if h.changes == c.changes => acc
        case _ => c :: acc
      }
    }
    deduped.reverse
      .foldLeft(List(current)) { (states, change) =>
        states :+ unapply(states.last, change)
      }
  }

  /** Distributed form: one reconstruction per bug via typed mapGroups. */
  def historicStates(histories: Dataset[BugHistory]): Dataset[BugStates] = {
    implicit val enc = Encoders.product[BugStates]
    histories.groupByKey(_.number)(Encoders.scalaLong)
      .mapGroups { (number, rows) =>
        val h = rows.next()
        BugStates(number, reconstruct(h.current, h.changes))
      }
  }
}
