package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization boundary: every pin (an eager or
  * lazy `localCheckpoint`, or a `persist`) and every free goes through
  * here, and so does every scratch directory.
  *
  * A pin belongs to the innermost [[scope]] open on its thread. When the
  * scope exits, by return or by throw, it frees each of its pins that
  * the result no longer reaches and hands the rest to the enclosing
  * scope; with no enclosing scope they stay live for the caller. The
  * result reaches a pin through its analyzed plan (subqueries
  * included), through the RDD lineage under any RDD leaf (which covers
  * `df.rdd` → `createDataFrame`), or — for a persisted pin — through a
  * subtree with the same result as the pinned plan. A result may be a
  * DataFrame, or a tuple, case class, `Option` or collection that holds
  * DataFrames.
  *
  * An eager pin's job carries the description `"<scope> pin <k>"`; the
  * caller's description is restored afterwards and the job group is
  * left alone, because harnesses attribute jobs by group id.
  */
private[graft] object RunScope {

  sealed trait Kind
  /** `localCheckpoint(true)`: truncates the plan and runs its job now. */
  case object Eager extends Kind
  /** `localCheckpoint(false)`: truncates the plan; the blocks fill on the
    * first action over it.
    */
  case object Lazy extends Kind
  /** `persist(MEMORY_AND_DISK)`: keeps plan and lineage; the first plan
    * that uses it fills the cache.
    */
  case object Persist extends Kind

  private final class Pin(val df: DataFrame, val kind: Kind)
  private final class Scope(val name: String) {
    var pins = List.empty[Pin]
    var made = 0
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  implicit final class Pinning(private val df: DataFrame) extends AnyVal {
    def pin(kind: Kind = Eager): DataFrame = RunScope.pin(df, kind)
  }

  /** Pin `df`, owned by the innermost open scope. */
  def pin(df: DataFrame, kind: Kind = Eager): DataFrame = {
    val scope = open.get.headOption
    scope.foreach(_.made += 1)
    val pinned = kind match {
      case Eager => scope.fold(df.localCheckpoint(true)) { s =>
        val sc = df.sparkSession.sparkContext
        val caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"${s.name} pin ${s.made}")
        try df.localCheckpoint(true) finally sc.setJobDescription(caller)
      }
      case Lazy => df.localCheckpoint(false)
      case Persist => df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    scope.foreach(s => s.pins ::= new Pin(pinned, kind))
    pinned
  }

  /** Free a pin now: a loop that supersedes its state every round. */
  def free(df: DataFrame): Unit = {
    val owned = open.get.flatMap(_.pins).find(_.df eq df)
    open.get.foreach(s => s.pins = s.pins.filterNot(_.df eq df))
    owned.fold(bridge.freeLocalCheckpoint(df))(release)
  }

  /** Run `body`; on exit free each pin made inside it that the result
    * does not reach.
    */
  def scope[T](name: String)(body: => T): T = {
    val outer = open.get
    val s = new Scope(name)
    open.set(s :: outer)
    var result: Option[T] = None
    try {
      result = Some(body)
      result.get
    } finally {
      open.set(outer)
      val kept = if (s.pins.isEmpty) Nil else result.fold(List.empty[Pin])(reached(_, s.pins))
      s.pins.filterNot(kept.contains).foreach(release)
      outer.headOption.foreach(o => o.pins = kept ++ o.pins)
    }
  }

  /** A fresh directory that is deleted when the JVM exits. */
  def scratchDir(prefix: String): String = bridge.createTempDir(prefix).toString

  private def release(p: Pin): Unit = p.kind match {
    case Persist => p.df.unpersist(blocking = false)
    case _ => bridge.freeLocalCheckpoint(p.df)
  }

  private def reached(result: Any, pins: List[Pin]): List[Pin] = {
    val plans = mutable.ArrayBuffer.empty[LogicalPlan]
    val rdds = mutable.Stack.empty[RDD[_]]
    def visit(x: Any): Unit = x match {
      case d: Dataset[_] => plans += d.queryExecution.analyzed
      case i: Iterable[_] => i.foreach(visit)
      case p: Product => p.productIterator.foreach(visit)
      case _ => ()
    }
    visit(result)
    plans.foreach(_.foreachWithSubqueries {
      case r: LogicalRDD => rdds.push(r.rdd)
      case _ => ()
    })
    val lineage = mutable.Set.empty[Int]
    while (rdds.nonEmpty) {
      val r = rdds.pop()
      if (lineage.add(r.id)) r.dependencies.foreach(d => rdds.push(d.rdd))
    }
    pins.filter { p =>
      val plan = p.df.queryExecution.analyzed
      p.kind match {
        case Persist =>
          bridge.cachedRddId(p.df).exists(lineage) ||
            plans.exists(_.collectFirstWithSubqueries {
              case n if n.sameResult(plan) => n
            }.isDefined)
        case _ => plan.collectLeaves().exists {
          case r: LogicalRDD => lineage(r.rdd.id)
          case _ => false
        }
      }
    }
  }
}
