package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.cdc.ChangeEvent

/** The expected lake state, kept by the benchmark from the generated events
  * alone — never read back from the engine. Last write wins by lsn (ties
  * go to the later delivery, as in `EventGen.expectedFinalState`); a key
  * whose winner is a delete is absent. */
final class Model {
  import Model._

  private val winners = mutable.HashMap.empty[String, ChangeEvent]
  private val docs = mutable.HashMap.empty[Long, Doc]
  // child rows per root key: topic id → lsn of the version that wrote it,
  // the stats row's lsn, and the newest delete tombstone
  private val topics = mutable.HashMap.empty[String, mutable.HashMap[String, Long]]
  private val stats = mutable.HashMap.empty[String, Long]
  private val tombs = mutable.HashMap.empty[String, Long]

  /** One applied micro-batch: only each key's batch winner reaches the
    * lake. A newer version shadows child rows with the same key and leaves
    * the others; a delete tombstones every older row of its root key. */
  def applyBatch(batch: Seq[ChangeEvent]): Unit =
    batch.groupBy(e => idOf(e.doc)).foreach { case (id, es) =>
      val e = es.reduceLeft((a, b) => if (b.lsn >= a.lsn) b else a)
      if (winners.get(id).forall(_.lsn <= e.lsn)) {
        winners(id) = e
        if (e.op == "delete") tombs(id) = e.lsn
        else {
          val d = doc(e)
          if (d.hasStats) stats(id) = e.lsn
          d.topicIds.foreach(t =>
            topics.getOrElseUpdate(id, mutable.HashMap.empty)(t) = e.lsn)
        }
      }
    }

  def winner(id: String): Option[ChangeEvent] = winners.get(id)
  def ids: Iterator[String] = winners.keysIterator
  def liveIds: Iterator[String] =
    winners.iterator.collect { case (k, e) if e.op != "delete" => k }

  /** Parsed payload of a winning event, memoized by lsn. */
  def doc(e: ChangeEvent): Doc = docs.getOrElseUpdate(e.lsn, parse(e.doc))

  /** id → (rev, sha256(content)) over the live keys: the root table. */
  def rootRows: Map[String, (String, String)] =
    liveIds.map { k => val d = doc(winners(k)); k -> (d.rev, d.sha) }.toMap

  /** LANG → (live docs, total content length): the per-language rollup
    * recomputed from scratch. */
  def langRollup: Map[String, (Long, Long)] =
    liveIds.map(k => doc(winners(k))).toSeq.groupBy(_.lang).map { case (l, ds) =>
      l -> (ds.size.toLong, ds.map(_.contentLen).sum) }

  /** Child-table row counts: rows newer than their root key's tombstone
    * (the topics child is keyed by (root key, topic id)). */
  def childCounts: Map[String, Long] = {
    def alive(id: String, lsn: Long) = lsn > tombs.getOrElse(id, -1L)
    Map("REPOS_STATS" -> stats.count { case (k, l) => alive(k, l) }.toLong,
      "REPOS_TOPICS" -> topics.iterator.map { case (k, m) =>
        m.valuesIterator.count(alive(k, _)).toLong }.sum)
  }
}

object Model {
  final case class Doc(rev: String, sha: String, lang: String,
      contentLen: Long, hasStats: Boolean, topicIds: Set[String])

  private val mapper = new ObjectMapper()

  def idOf(doc: String): String = {
    val s = doc.indexOf("\"id\":\"") + 6
    doc.substring(s, doc.indexOf('"', s))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def parse(json: String): Doc = {
    val n = mapper.readTree(json)
    val content = n.get("content").asText()
    val topics = Option(n.get("topics")).map { a =>
      val ids = Set.newBuilder[String]
      a.elements().forEachRemaining(t => ids += t.get("id").asText())
      ids.result()
    }.getOrElse(Set.empty[String])
    Doc(n.get("rev").asText(), sha256(content), n.get("lang").asText(),
      content.codePointCount(0, content.length).toLong, n.has("stats"), topics)
  }
}
