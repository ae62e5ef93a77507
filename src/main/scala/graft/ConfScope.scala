package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped SQLConf overrides — the engine-wide replacement for the
  * save/set/restore idiom on a SHARED session.
  *
  * Why save/restore is banned in query/ops code: with N concurrent
  * operations on one session, (a) every other in-flight query sees the
  * temporary value (a maintenance job flipping
  * `partitionColumnTypeInference` disables planner features for unrelated
  * tenant queries mid-plan — the round-14 bench failure), and (b) restore
  * is non-reentrant: B's "previous" snapshot can capture A's temporary
  * value and restore it PERMANENTLY after both finish.
  *
  * Spark's own answer is session cloning: [[SparkSession.newSession]]
  * shares the SparkContext, external catalog and cached data but owns a
  * PRIVATE SQLConf, temp-view registry and experimental-rule list. This
  * helper clones, copies the parent's runtime conf onto the clone (so the
  * clone behaves like the parent, not like a fresh default session),
  * re-installs the engine's session-scoped extensions (function registry +
  * optimizer rules — both live in session state, which `newSession` resets),
  * applies the overrides to the CLONE only, and runs the body with it. The
  * parent session's conf is never touched, so there is nothing to restore
  * and no restore race to mis-nest.
  */
object ConfScope {

  /** Run `body` against a clone of `spark` whose SQLConf additionally
    * carries `overrides`. The clone sees the parent's current runtime conf
    * plus the overrides; the parent is never mutated. Safe to nest and to
    * run concurrently from any number of threads.
    */
  def withSessionConf[A](spark: SparkSession, overrides: (String, String)*)(
      body: SparkSession => A): A = {
    val s = spark.newSession()
    // copy the parent's runtime conf: newSession starts from the
    // SparkContext-level defaults, losing every spark.conf.set made since
    // startup. Static/non-settable keys throw on set — skip them, the
    // clone inherits them from the context anyway.
    spark.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v) catch { case _: Exception => () }
    }
    // session-state extensions do not survive newSession: the SQL function
    // surface and the optimizer rules are part of the engine's semantics,
    // so a clone without them would plan differently. With them, the
    // copied GraftSession.ConfiguredKey marker holds on the clone too, so
    // `Tables` loads on it leave the overrides below in place.
    GraftExtensions.register(s)
    GraftSession.registerRules(s)
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    body(s)
  }
}
