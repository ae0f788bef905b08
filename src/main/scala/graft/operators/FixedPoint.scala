package graft.operators

import org.apache.spark.sql.DataFrame

import graft.RunScope

/** The driver-side fixed-point loop of every iterate-to-convergence
  * operator ([[Sssp]], [[Bfs]], [[KCore]], [[KTruss]],
  * [[ConnectedComponents]]); the loop shape of GraphX's `Pregel`.
  *
  * One round = `step` builds the next state from the current one, the
  * state is pinned with a LAZY `localCheckpoint`, and `signal` runs ONE
  * full aggregate over it — the round's only action, which both reads
  * the convergence signal and materializes the pin (`isEmpty` or `head`
  * would leave partitions unmaterialized). The superseded round's pin
  * is freed as soon as its successor lands. The checkpoint (vs persist)
  * choice is deliberate: both alternatives that keep lineage were
  * measured and lost — chained raw plans double the printed tree per
  * round (driver OOM in AQE's plan-string render), and a persisted-RDD
  * chain grows every later job's stage DAG (44-stage jobs by round 19,
  * +60% wall on Sssp). The fault-tolerance trade is explicit: a round's
  * blocks live on executors until its successor lands, and a lost block
  * cannot be recomputed.
  *
  * Every job the loop runs carries the description
  * `"<name> round <n>"` (`"<name> init"` / `"<name> result"` around it,
  * `"<name> pin <k>"` for `finish`'s pin); the caller's description is
  * restored afterwards. The job group is left alone: harnesses attribute
  * jobs by group id. The loop runs in a [[graft.RunScope]] named `name`,
  * which owns every pin made here.
  *
  * The fixed-round loops that read no signal ([[PageRank]],
  * [[LabelPropagation]]) run on [[unrolled]] instead.
  */
private[graft] object FixedPoint {

  /** Iterate `step` from `init` until `converged` or `maxRounds` rounds.
    *
    * @param pinInit   pin `init` and read its signal as round 0, for
    *   convergence tests that compare consecutive rounds; the loop is
    *   skipped when `converged(None, signal)` already holds
    * @param throwAtCap throw `IllegalStateException("<name> did not
    *   converge within N rounds")` when the cap is hit unconverged;
    *   `false` returns the capped state (a bound that is part of the
    *   problem, e.g. BFS hops)
    * @param step      (state, round) => next state, unpinned
    * @param signal    (pinned state, round) => one full aggregate
    * @param converged (previous round's signal, this round's) => stop
    * @param finish    a result derived from the final state, pinned
    *   eagerly so the final state's pin can be freed; without it the
    *   final state itself is returned
    */
  def run[S](
      name: String,
      init: DataFrame,
      maxRounds: Int,
      step: (DataFrame, Int) => DataFrame,
      signal: (DataFrame, Int) => S,
      converged: (Option[S], S) => Boolean,
      pinInit: Boolean = false,
      throwAtCap: Boolean = true,
      finish: Option[DataFrame => DataFrame] = None): DataFrame = {
    val sc = init.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try RunScope.scope(name) {
      sc.setJobDescription(s"$name init")
      var state = if (pinInit) RunScope.pin(init, RunScope.Lazy) else init
      var last = if (pinInit) Some(signal(state, 0)) else None
      var done = last.exists(converged(None, _))
      var round = 0
      while (!done && round < maxRounds) {
        round += 1
        sc.setJobDescription(s"$name round $round")
        val next = RunScope.pin(step(state, round), RunScope.Lazy)
        val s = signal(next, round)
        done = converged(last, s)
        if (pinInit || round > 1) RunScope.free(state)
        state = next
        last = Some(s)
      }
      if (!done && throwAtCap)
        throw new IllegalStateException(s"$name did not converge within $maxRounds rounds")
      sc.setJobDescription(s"$name result")
      finish.fold(state)(f => RunScope.pin(f(state)))
    } finally sc.setJobDescription(callerDescription)
  }

  /** The fixed-round form for loops that run a set number of rounds and
    * read no convergence signal (PageRank, LabelPropagation): `rounds`
    * applications of `step` from `init`, unrolled in the plan. Every
    * 10th round's state is pinned eagerly — a per-round plan of joins and
    * aggregates nested 50 deep stalls the analyzer — and the pin it
    * supersedes is freed. Returns the last state, unpinned after a
    * round that is not a multiple of 10.
    */
  def unrolled(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var pinned: Option[DataFrame] = None
    for (round <- 1 to rounds) {
      state = step(state)
      if (round % 10 == 0) {
        state = RunScope.pin(state)
        pinned.foreach(RunScope.free)
        pinned = Some(state)
      }
    }
    state
  }
}
