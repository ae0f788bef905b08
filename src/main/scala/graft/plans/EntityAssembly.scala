package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.ColumnMap
import graft.operators.Descriptors

/** The flagship end-to-end pipeline: SURVEY.md §3.2's entity-assembly
  * dataflow (reference: SisConnectorService.java:142-160 and the
  * per-entity helpers at :201-461), re-expressed as ONE declarative Spark
  * plan over the harness star schema.
  *
  * Shape mapping (Banner → testdata):
  *   - candidate ids      = customers in a market segment
  *     (teacherCandidateIds.sql: join + filter + order)
  *   - candidate scalars  = customer row via ColumnMap projection (P1)
  *     with last-row-wins semantics made explicit (A3)
  *   - descriptor lookup  = nationkey → nation-name URI, broadcast left
  *     join + passthrough fallback (J3)
  *   - addresses          = the customer's orders (detail query per key in
  *     the reference — its N+1 loop J2 becomes one scan + hash join)
  *   - address periods    = each order's distinct (shipdate, returnflag)
  *     lineitem pairs, dedup-merged exactly like addTeacherAddress's
  *     period-set union (A1)
  *   - nesting            = collect_list(struct(...)) per parent (A2/J5)
  *   - sync diff          = assembled keys vs the full customer snapshot
  *     → delete set (J4)
  *
  * Scale notes: the pruned detail rows (lineitem joined to the
  * candidates' orders) are repartitioned once on `o_custkey`, and both
  * collect aggregations (per order, then per customer) run in that one
  * stage, because a hash partitioning on `o_custkey` already clusters
  * every grouping that includes it; the candidate rows (one per entity)
  * meet the rollup on the same key. The key is high-cardinality and
  * AQE-splittable; the nation dimension is broadcast. While the orders
  * slice fits under the broadcast threshold, that repartition is the
  * detail side's only shuffle. It trades rows for a stage: it moves
  * lineitem-grain rows with no map-side partial aggregation, where a
  * per-order rollup first would move per-order buffers, then per-order
  * rows again on the customer key. At sf0.01 and sf0.1 (4 cores) it
  * moved 3.5x the records of that plan but 0.74-0.86x the bytes
  * (collect_set buffers are bulky) in one job fewer. Once the orders
  * slice is too big to broadcast, the lineitem join also shuffles on
  * the order key, so lineitem-grain rows cross the network twice; with
  * broadcast joins disabled at sf0.1 both plans moved the same bytes
  * within 2%. Above sf0.1 it is unmeasured. Arrays are sorted so results
  * are deterministic under any partitioning.
  */
object EntityAssembly {

  /** The segment code that selects the candidates ([[inSegment]]). */
  val segment = "BUILDING"

  /** ColumnMap for the candidate projection — exercised exactly as the
    * reference's .map files: case-insensitive physicals, unmapped → null.
    */
  val candidateMap: ColumnMap = ColumnMap(Seq(
    "studentUniqueId" -> "C_CUSTKEY",
    "fullName"        -> "c_name",
    "segment"         -> "c_mktsegment",
    "nationCode"      -> "c_nationkey",
    "accountBalance"  -> "c_acctbal",
    "unmappedField"   -> "NO_SUCH_COLUMN"))

  /** The candidate predicate over customer rows: the configurable filter
    * the reference keeps in teacherCandidateIds.sql (P2 equality on a
    * segment code). An assembled frame has one entity per candidate row.
    */
  val inSegment: Column = col("c_mktsegment") === segment

  /** Addresses (orders) with their period arrays nested, rolled up to one
    * address array per customer behind one shuffle on `o_custkey`: each
    * order's distinct (shipdate, returnflag) pairs are A1's dedup-merge
    * (collect_set), the per-customer array is A2 + J5; both sorted for
    * determinism.
    */
  private def customerAddresses(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .agg(sort_array(collect_set(struct(
        col("l_shipdate").cast("date").as("beginDate"),
        col("l_returnflag").as("flag")))).as("periods"))
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(
        col("o_orderkey").as("addressId"),
        col("o_orderstatus").as("statusCode"),
        col("o_orderpriority").as("priority"),
        col("periods")))).as("addresses"))

  /** The assembled nested entity frame:
    * (studentUniqueId, fullName, segment, nationDescriptor, accountBalance,
    *  unmappedField, studentReference struct, addresses array).
    */
  def assemble(spark: SparkSession, sfDir: String): DataFrame =
    assembleFrom(
      Tables.load(spark, sfDir, "customer"),
      Tables.load(spark, sfDir, "nation"),
      Tables.load(spark, sfDir, "orders"),
      Tables.load(spark, sfDir, "lineitem"))

  /** Frame-parameterized core of [[assemble]] — the same plan over ANY
    * customer/dimension/detail frames (the incremental-sync driver feeds a
    * change-batch as `customer`; the batch form feeds warehouse scans).
    */
  def assembleFrom(
      customer: DataFrame,
      nation: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val ids = customer.filter(inSegment)

    val resolved = Descriptors.resolve(
      candidateMap.project(ids), nation,
      codeCol = "nationCode", dimCode = "n_nationkey", dimValue = "n_name",
      outCol = "nationDescriptor", namespacePrefix = "uri://graft/nation#")

    // Semi-join-prune the orders to the candidate slice BEFORE the collect
    // aggregations: only ~1/5 of customers are in the segment, and Catalyst
    // cannot push the final join below the groupBys on its own. Without
    // this the rollups aggregate the ENTIRE fact table and the join then
    // discards 80% of that work — the exact shape that stops scaling at
    // 100 TB. The inner join to lineitem then prunes the detail side to
    // the surviving orders. The candidate keys and the orders slice are
    // broadcast only while they fit under the broadcast threshold;
    // beyond it each join shuffles both sides on its key.
    val ordersSlice = orders.join(
      ids.select(col("c_custkey")), orders("o_custkey") === col("c_custkey"),
      "left_semi")

    val addrs = customerAddresses(ordersSlice, lineitem)

    resolved
      .join(addrs, resolved("studentUniqueId") === addrs("o_custkey"), "left")
      .select(
        col("studentUniqueId"), col("fullName"), col("segment"),
        col("nationDescriptor"), col("accountBalance"), col("unmappedField"),
        struct(col("studentUniqueId"), col("fullName")).as("studentReference"),
        coalesce(col("addresses"), array()).as("addresses"))
  }

  /** Entities rendered as the sink payload (reference: Gson POJO → JSON,
    * JSON.java:94-96): one JSON document per entity.
    */
  def assembleJson(spark: SparkSession, sfDir: String): DataFrame =
    toJsonPayload(assemble(spark, sfDir))

  /** Sink-payload projection of an assembled frame. */
  def toJsonPayload(assembled: DataFrame): DataFrame =
    assembled.select(
      col("studentUniqueId"),
      to_json(struct(col("studentUniqueId"), col("fullName"), col("segment"),
        col("nationDescriptor"), col("studentReference"), col("addresses")))
        .as("payload"))

  /** Canonical string rendering of an `addresses` array — the shared spine
    * of every fingerprinted projection: per address
    * `addressId:statusCode:priority:p1|p2|…` with periods `beginDate,flag`
    * sorted; addresses joined with `;`. DuckDB reproduces the identical
    * string with sorted string_agg, so md5 of it hash-verifies the whole
    * nested assembly without nested-type comparison.
    */
  private def addressesCanonical(addresses: Column): Column =
    concat_ws(";",
      transform(addresses, a =>
        concat_ws(":",
          a.getField("addressId"),
          a.getField("statusCode"),
          a.getField("priority"),
          concat_ws("|", transform(a.getField("periods"), p =>
            concat_ws(",",
              date_format(p.getField("beginDate"), "yyyy-MM-dd"),
              p.getField("flag")))))))

  /** Oracle-expressible flattening: per entity, the address/period counts
    * plus an md5 fingerprint of the canonical address rendering.
    */
  def flattened(spark: SparkSession, sfDir: String): DataFrame =
    assemble(spark, sfDir).select(
      col("studentUniqueId"),
      col("fullName"),
      col("nationDescriptor"),
      size(col("addresses")).as("n_addresses"),
      coalesce(
        aggregate(col("addresses"), lit(0), (acc, a) => acc + size(a.getField("periods"))),
        lit(0)).as("n_periods"),
      md5(addressesCanonical(col("addresses"))).as("addresses_md5"))

  /** The FULL assembled entity as oracle-comparable scalars: every scalar
    * field verbatim, the reference struct flattened, and one md5 over the
    * canonical rendering of the complete entity (scalars + nested
    * addresses) — a value-level proof of the whole nested assembly that
    * survives harness frameworks which cannot sort/hash array columns.
    */
  def fingerprinted(spark: SparkSession, sfDir: String): DataFrame =
    assemble(spark, sfDir).select(
      col("studentUniqueId"),
      col("fullName"),
      col("segment"),
      col("nationDescriptor"),
      col("accountBalance"),
      col("unmappedField"),
      col("studentReference").getField("studentUniqueId").as("ref_id"),
      col("studentReference").getField("fullName").as("ref_name"),
      size(col("addresses")).as("n_addresses"),
      md5(concat_ws("~",
        col("studentUniqueId"),
        col("fullName"),
        col("segment"),
        col("nationDescriptor"),
        addressesCanonical(col("addresses")))).as("entity_md5"))
}
