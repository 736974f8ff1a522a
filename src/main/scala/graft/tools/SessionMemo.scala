package graft.tools

/** ONE spelling of the session-scoped memo discipline used by every
  * shared-build cache in the repo (derived graphs, catalog edge
  * lists and path targets, posting bases, weighted-PageRank state,
  * BPE merge tables, stats bucket bounds): entries may hold
  * session-bound values (localCheckpoint'd DataFrames, Graph
  * instances wrapping them), so the SparkSession is part of the key
  * and entries of stopped sessions are evicted on every access — a
  * memo that forgets either half hands a stopped context's
  * checkpoint RDDs to a new session (the pre-r17 edgeMemo bug this
  * class makes structurally impossible to reintroduce). */
final class SessionMemo[K, V] {
  private val m = new scala.collection.concurrent.TrieMap[
    (org.apache.spark.sql.SparkSession, K), V]

  def get(session: org.apache.spark.sql.SparkSession, key: K)(
      build: => V): V = {
    m.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    m.getOrElseUpdate((session, key), build)
  }
}
