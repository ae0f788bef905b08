package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession

/** The engine's one way to run a run's independent Spark actions at the
  * same time (the sync lifecycle's sinks and side writes, a landing
  * zone's shard files). The driver submits their jobs together, so their
  * tasks share the cores instead of waiting for each other's job waves.
  */
private[graft] object RunPool {

  /** Runs the named `actions` on a pool of at most 4 threads made for
    * this call, submitted in order, and returns only once every one has
    * finished; then rethrows the first failure, if any. The threads are
    * made inside the caller's run, so they inherit its Spark local
    * properties (job group and description) and every job stays with the
    * run; each action's jobs, AQE stage jobs included, then carry its
    * name as their description. An action must not pin: [[RunScope]]
    * scopes are per thread. Threads are named `graft-run-<k>`.
    */
  def runAll(spark: SparkSession, actions: Seq[(String, () => Unit)]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(4, actions.size)),
      (r: Runnable) => { val t = new Thread(r, s"graft-run-${threads.size}"); threads.add(t); t })
    try {
      val pending = actions.map { case (name, action) => pool.submit(new Callable[Try[Unit]] {
        def call(): Try[Unit] = Try { spark.sparkContext.setJobDescription(name); action() }
      })}
      pending.map(_.get).collectFirst { case Failure(e) => throw e }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }
}
