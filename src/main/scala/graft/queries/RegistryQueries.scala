package graft.queries

import java.nio.file.Files

import graft.{RunScope, Tables}
import graft.core.QueryRegistry

/** The config-compiler contract end to end: a runtime directory of
  * user-authored `.sql` + `.map` files (the reference's `input/sql` and
  * `input/columnmap`, SisConnectorService.java:710-733) compiled into a
  * native Catalyst plan over registered views — multi-line SQL joined with
  * spaces, case-insensitive physical resolution, unmapped field → NULL.
  */
object RegistryQueries extends QueryGroup {

  /** One shared config dir per JVM (queries may run repeatedly). */
  private lazy val cfgDir: java.nio.file.Path = {
    val d = java.nio.file.Paths.get(RunScope.scratchDir("graft_cfg"))
    Files.writeString(d.resolve("candidateIds.sql"),
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin)
    Files.writeString(d.resolve("candidateIds.map"),
      """# logical=PHYSICAL, case-insensitive; unmatched yields NULL
        |studentUniqueId=C_CUSTKEY
        |fullName=c_NAME
        |segment=c_mktsegment
        |unmappedField=NO_SUCH_COLUMN
        |""".stripMargin)
    d
  }

  private val qR1 = Q(
    "q_r1_config_compiled",
    """SELECT c_custkey AS studentUniqueId, c_name AS fullName,
      |       c_mktsegment AS segment, CAST(NULL AS VARCHAR) AS unmappedField
      |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |ORDER BY studentUniqueId""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    QueryRegistry.load(cfgDir, cfgDir).compile(s, "candidateIds")
  }

  // The injected optimizer rule under the oracle gate: identical SQL text
  // runs in Spark (with graft.plans.OptimizeLevenshteinThreshold rewriting
  // the unbounded levenshtein predicate to the early-exit banded kernel)
  // and in DuckDB. The require() proves the rewrite actually fired in the
  // optimized plan; the oracle proves it changed nothing semantically.
  // Exhaustive over DISTINCT names (64²) — the blocked production path for
  // raw corpora is q_d11.
  private val fuzzySql =
    """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
      |SELECT a.p_name AS name_a, b.p_name AS name_b
      |FROM n a JOIN n b ON a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  private val qR2 = Q("q_r2_levenshtein_rule", fuzzySql) { (s, dir) =>
    Tables.load(s, dir, "part").createOrReplaceTempView("part")
    val df = s.sql(fuzzySql)
    val rewritten = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Levenshtein
            if l.threshold.isDefined => l
      })
    }.flatten
    require(rewritten.nonEmpty,
      "q_r2: the optimizer must rewrite levenshtein(a,b) <= d to the thresholded kernel")
    df
  }

  // The Jaro–Winkler threshold rule under the oracle gate
  // (plans.OptimizeJaroWinklerThreshold): jw(a,b) >= 0.93 over
  // variable-length truncated names (3–10 chars) plus planted typo
  // variants. The rule injects the PROVABLY SOUND length-ratio guard
  // min+1 >= (5θ−4)·max ahead of the O(l₁·l₂) kernel — grossly
  // mismatched lengths are rejected by length arithmetic alone. The
  // require() proves the guard landed in the optimized plan; the
  // DuckDB oracle (same predicate, no guard) proves it filtered
  // nothing it shouldn't. Identical SQL but for the function name
  // (DuckDB spells it jaro_winkler_similarity).
  // The name set is SF-INVARIANT by construction (custkey <= 7000, i.e.
  // fixed once SF >= 0.05): the gate is a deliberate nested-loop vehicle
  // for the guard proof, so its corpus must not grow O(SF²) with the
  // scale factor — the OPERATOR's scale story is the guard itself.
  private def jwSql(fn: String, strType: String = "VARCHAR") =
    s"""WITH r AS (
       |  SELECT DISTINCT substr(md5(CAST(c_custkey AS $strType)), 1,
       |                         3 + CAST(c_custkey % 8 AS INT)) AS name
       |  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey <= 7000),
       |n AS (SELECT name FROM r UNION SELECT name || 'z' FROM r)
       |SELECT a.name AS name_a, b.name AS name_b,
       |       round($fn(a.name, b.name), 6) AS jw
       |FROM n a JOIN n b ON a.name < b.name
       |WHERE $fn(a.name, b.name) >= 0.93
       |ORDER BY name_a, name_b""".stripMargin

  private val qR3 = Q(
    "q_r3_jaro_winkler_rule",
    jwSql("jaro_winkler_similarity")) { (s, dir) =>
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    val df = s.sql(jwSql("jaro_winkler", strType = "STRING"))
    val guards = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Least
            if l.children.exists(
              _.isInstanceOf[graft.expressions.Utf16Length]) => l
      })
    }.flatten
    require(guards.nonEmpty,
      "q_r3: the optimizer must inject the length-ratio guard ahead of jaro_winkler >= theta")
    df
  }

  override val all: Seq[Q] = Seq(qR1, qR2, qR3)
}
