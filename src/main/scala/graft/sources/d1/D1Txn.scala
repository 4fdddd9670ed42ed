package graft.sources.d1

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.D1Client

/** Driver-side transaction buffer behind the `BEGIN` / `COMMIT` /
  * `ROLLBACK` SQL spellings — the Spark shape of the reference's
  * D1TransactionManager (reference src/storage/d1_transaction_manager.cpp:11-46
  * and d1_transaction.cpp:17-58): statements issued inside a transaction
  * buffer per database config, `COMMIT` flushes each touched database as
  * ONE batch POST, and `ROLLBACK` drops the buffer. It cannot undo
  * remotely-committed statements — D1 auto-commits per statement — the
  * same honest non-ACID contract as [[D1BatchSession]] and the reference
  * (d1_transaction.cpp:50-57 "can't rollback already-committed
  * statements on D1").
  *
  * Fidelity note: in the reference the buffering path is aspirational —
  * catalog DML throws "use d1_execute() function"
  * (src/d1_storage.cpp:44-57) and the `d1_execute` scalar always executes
  * immediately (src/d1_functions.cpp:423-450), so `BufferStatement` has
  * no caller. This engine gives the SQL spelling the semantics the
  * reference's transaction manager was built for: `D1.execute` (and the
  * `d1_execute` UDF) buffer while a transaction is active, and the DSv2
  * `df.write.format("d1")` path defers its batch POST to `COMMIT` by
  * carrying statements back through the WriterCommitMessage protocol
  * (see [[D1BatchWrite]]).
  *
  * Transaction state is keyed PER SPARK SESSION (`sessionUUID`), so two
  * concurrent sessions on one driver each get their own buffer — the
  * reference keys its manager per ClientContext the same way
  * (d1_transaction_manager.cpp:11-20). The no-arg methods resolve the
  * caller's session (active, else default — i.e. the only session in a
  * single-session JVM); the SQL commands pass their session explicitly.
  * An abandoned transaction (session dropped between BEGIN and COMMIT)
  * leaks its buffer entry until the JVM exits — same profile as the
  * reference's per-context map, bounded by sessions-that-began.
  *
  * Scale contract: the buffer lives on the DRIVER (exactly the
  * reference's single-node `buffered_statements` vector), so a
  * transaction holds O(buffered statements) driver memory. Distributed
  * writes inside a transaction ship their statements driver-ward via the
  * standard DSv2 commit protocol — correct on a real cluster, but sized
  * for control-plane writes (the reference's D1 use case), not bulk
  * loads; outside a transaction the writer streams per-task batches and
  * never accumulates. The `d1_execute` UDF evaluates task-side, so its
  * in-transaction buffering is guaranteed in local mode (shared JVM —
  * the owning session's id rides the propagated [[FlagKey]] local
  * property, so the task buffers into exactly the transaction that is
  * open) and for the driver-side `D1.execute` API; on a real cluster an
  * executor-side `d1_execute` inside a transaction FAILS LOUDLY (see
  * [[assertBufferReachable]]) instead of silently posting, steering
  * cluster jobs to the DSv2 writer or [[D1BatchSession]].
  */
object D1Txn {

  /** Statements buffered per database config, in arrival order per
    * database — one per open transaction here, one per
    * [[D1BatchSession]]. Not thread-safe: the owner synchronizes.
    */
  private[d1] final class Buffer {
    private val byDb =
      mutable.LinkedHashMap.empty[D1Client.Config, mutable.ArrayBuffer[String]]
    def add(config: D1Client.Config, sql: String): Unit =
      byDb.getOrElseUpdate(config, mutable.ArrayBuffer.empty) += sql
    def pending: Seq[String] = byDb.values.flatten.toSeq
    /** Empty the buffer, returning its batches. */
    def drain(): Seq[(D1Client.Config, Seq[String])] = {
      val out = byDb.toSeq.map { case (c, b) => (c, b.toSeq) }
      byDb.clear()
      out
    }
  }

  /** sessionUUID → open-transaction buffer; presence == active. */
  private val states = mutable.HashMap.empty[String, Buffer]

  /** The calling thread's session id: the thread-active session, else
    * the JVM default (the only session in a single-session JVM — keeps
    * the no-arg API working from any driver thread there), else a fixed
    * sentinel so the API still works with no session at all.
    */
  def currentId: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(org.apache.spark.sql.GraftColumnShim.sessionUUID)
      .getOrElse("<no-session>")

  def active: Boolean = activeFor(currentId)
  def activeFor(sessionId: String): Boolean =
    synchronized(states.contains(sessionId))

  /** DuckDB's TransactionException wording (the grammar the reference
    * inherits its BEGIN/COMMIT surface from).
    */
  def begin(): Unit = begin(currentId)
  def begin(sessionId: String): Unit = synchronized {
    if (states.contains(sessionId)) throw new IllegalStateException(
      "cannot start a transaction within a transaction")
    states(sessionId) = new Buffer
  }

  /** Buffer one statement (reference D1Transaction::BufferStatement,
    * d1_transaction.cpp:60-65). Order is preserved per database.
    */
  def buffer(config: D1Client.Config, sql: String): Unit =
    buffer(currentId, config, sql)
  def buffer(sessionId: String, config: D1Client.Config, sql: String): Unit =
    synchronized {
      states.getOrElse(sessionId, throw new IllegalStateException(
        "no transaction is active")).add(config, sql)
    }

  def bufferAll(config: D1Client.Config, sqls: Seq[String]): Unit = {
    val id = currentId
    synchronized { sqls.foreach(buffer(id, config, _)) }
  }

  /** One batch POST per touched database through [[commitBatches]]
    * (reference D1Transaction::Commit, d1_transaction.cpp:30-45). The
    * transaction ends even if a flush fails: earlier statements may have
    * committed remotely and a retry would double-apply them.
    */
  def commit(): Unit = commit(currentId)
  def commit(sessionId: String): Unit =
    commitWith(sessionId, D1Client.executeBatch)

  private[graft] def commitWith(
      post: (D1Client.Config, Seq[String]) => Seq[D1Client.QueryResult]): Unit =
    commitWith(currentId, post)

  private[graft] def commitWith(sessionId: String,
      post: (D1Client.Config, Seq[String]) => Seq[D1Client.QueryResult]): Unit = {
    val batches = synchronized {
      states.remove(sessionId).getOrElse(throw new IllegalStateException(
        "cannot commit - no transaction is active")).drain()
    }
    commitBatches(batches, post)
  }

  /** The one batch commit, behind `COMMIT`, [[D1BatchSession.commit]] and
    * the d1 writer's per-task flush: one batch POST per database, each
    * statement's result checked. EVERY database is attempted even when an
    * earlier one fails (a first-failure throw would silently discard the
    * later databases' statements, already drained); failures are
    * aggregated into one exception.
    */
  private[d1] def commitBatches(batches: Seq[(D1Client.Config, Seq[String])],
      send: (D1Client.Config, Seq[String]) => Seq[D1Client.QueryResult] =
        D1Client.executeBatch): Unit = {
    val failures = mutable.ArrayBuffer.empty[String]
    batches.foreach { case (cfg, stmts) =>
      if (stmts.nonEmpty) {
        try {
          send(cfg, stmts).zipWithIndex.foreach { case (r, i) =>
            if (!r.success)
              failures += s"database ${cfg.databaseId} statement ${i + 1} failed: ${r.error}"
          }
        } catch {
          case e: Exception =>
            failures += s"database ${cfg.databaseId} batch POST failed: ${e.getMessage}"
        }
      }
    }
    if (failures.nonEmpty) throw new java.io.IOException(
      "D1 batch commit failed (every database was attempted; earlier statements " +
        "may have committed remotely): " + failures.mkString("; "))
  }

  def rollback(): Unit = rollback(currentId)
  def rollback(sessionId: String): Unit = synchronized {
    if (states.remove(sessionId).isEmpty) throw new IllegalStateException(
      "cannot rollback - no transaction is active")
  }

  /** Buffered statements across all databases, in buffer order (tests). */
  def pending: Seq[String] = pending(currentId)
  def pending(sessionId: String): Seq[String] = synchronized(
    states.get(sessionId).toSeq.flatMap(_.pending))

  /** Job local-property key the BEGIN/COMMIT/ROLLBACK commands set to
    * the owning session's id, so a task — local-mode (same JVM, buffer
    * reachable) or cluster executor (different JVM, buffer NOT
    * reachable) — can see that the driver has a transaction open and
    * WHICH session owns it. Local properties propagate driver-thread →
    * task automatically; the flag follows the thread that issued BEGIN
    * (same-session queries from another driver thread won't carry it —
    * best-effort, like the buffering contract itself).
    */
  val FlagKey = "graft.d1.txnActive"

  /** Executor-side guard for `d1_execute`: a UDF evaluating in a
    * non-driver JVM cannot reach the driver's transaction buffer — its
    * JVM-local state is necessarily absent, so without this check the
    * statement would post immediately inside BEGIN, silently violating
    * the buffering contract. When the propagated flag says a transaction
    * is open and this JVM is a cluster executor, fail loudly and steer
    * to the paths that defer correctly. In local mode the executor
    * shares the driver JVM (`executorId == "driver"`), so the guard
    * never fires and buffering proceeds.
    */
  def assertBufferReachable(inTask: Boolean, executorId: String,
                            txnFlagged: Boolean): Unit =
    if (inTask && executorId != "driver" && txnFlagged)
      throw new IllegalStateException(
        "d1_execute inside BEGIN/COMMIT cannot buffer from a cluster executor: " +
          "the transaction buffer lives in the driver JVM. Issue the statement " +
          "via D1.execute on the driver, or use the d1 DSv2 writer " +
          "(df.write.format(\"d1\")), which defers its batch to COMMIT through " +
          "the WriterCommitMessage protocol.")
}
