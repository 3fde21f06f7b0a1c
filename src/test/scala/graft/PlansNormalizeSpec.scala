package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the PLANS.md id-normalizer (r12): the regexes must strip the
  * run-varying token classes WITHOUT touching the operator tokens the
  * plan audits and fingerprint gates count. A too-greedy pattern here
  * would silently rewrite the evidence file the round reviews hinge on.
  */
class PlansNormalizeSpec extends AnyFunSuite {

  private val n = graft.tools.Plans.normalize _

  private val sample =
    """(5) Exchange
      |Input [2]: [l_returnflag#8, sum#43L]
      |Arguments: hashpartitioning(l_returnflag#8, 4), ENSURE_REQUIREMENTS, [plan_id=19]
      |(6) HashAggregate [codegen id : 6]
      |Arguments: 12
      |(7) Scan parquet
      |Location: InMemoryFileIndex [file:/x/part-00028-b26d5397-a28a-4468-96d7-3ffe2a7bec75-c000.snappy.parquet]
      |(8) BroadcastNestedLoopJoin
      |obj#11: graft.ops.Multimodal$$Lambda$6552/0x00007fab297072a8@415c790e
      |WriteToDataSourceV2 MicroBatchWrite[epoch: 4, writer: Memory@64051260]
      |state info [ checkpoint = file:/tmp/temporary-74201a44-dc9f-43a9-8945-aa751b3a6802/state, runId = a9bf8ec6-3c99-4b85-ba44-5a90f34c008d, ver = 4 ]
      |left value predicate: (view_ts#98-T3600000ms <= 1706649038234000)
      |Output [1]: [transform(embedding#4, lambdafunction((lambda x_40#51 * 2.0), lambda x_40#51, false)) AS embedding#7]
      |Arguments: [node#3], MapPartitionsRDD[498] at createDataFrame at Graph.scala:59, ExistingRDD, UnknownPartitioning(0)
      |Arguments: [a#5], MapPartitionsRDD[906] at localCheckpoint at TextDedup.scala:1624, ExistingRDD, UnknownPartitioning(0)
      |   :  +- BroadcastQueryStage (19), Statistics(sizeInBytes=64.0 MiB, rowCount=2)
      |""".stripMargin

  test("normalization is idempotent") {
    assert(n(n(sample)) === n(sample))
  }

  test("run-varying ids are stripped") {
    val out = n(sample)
    for (leak <- Seq("#8", "#43L", "plan_id=19", "codegen id : 6",
        "part-00028", "b26d5397", "@415c790e", "epoch: 4",
        "temporary-74201a44", "runId = a9bf8ec6", "ver = 4",
        "1706649038234000", "x_40", "RDD[498]", "RDD[906]", "Graph.scala:59",
        "TextDedup.scala:1624", "64.0 MiB"))
      assert(!out.contains(leak), s"unstripped varying id: $leak")
  }

  test("the operator tokens the gates count are untouched") {
    val out = n(sample)
    // same substrings PlanFingerprintSpec counts
    for (tok <- Seq("Exchange", "Scan parquet", "BroadcastNestedLoopJoin",
        "HashAggregate", "hashpartitioning(", "ENSURE_REQUIREMENTS",
        "l_returnflag", "InMemoryFileIndex", "MicroBatchWrite",
        "lambda x_x", "MapPartitionsRDD[x] at createDataFrame at Graph.scala:x",
        "at localCheckpoint at TextDedup.scala:x", "ExistingRDD",
        "BroadcastQueryStage (19), Statistics(sizeInBytes=x, rowCount=2)"))
      assert(out.contains(tok), s"normalizer ate operator token: $tok")
    // partitioning arity (a real argument, not an id) survives
    assert(out.contains("hashpartitioning(l_returnflag#x, 4)"))
  }

  test("a broadcast stage's heap-dependent size estimate normalizes; " +
       "other stages' sizes and every rowCount survive") {
    def stage(size: String) =
      s"+- BroadcastQueryStage (26), Statistics(sizeInBytes=$size, rowCount=12)"
    assert(n(stage("32.0 MiB")) === n(stage("64.0 MiB")))
    assert(n(stage("1025.5 KiB")).contains("rowCount=12"))
    val shuffle = "+- ShuffleQueryStage (31), Statistics(sizeInBytes=336.0 B, rowCount=14)"
    assert(n(shuffle) === shuffle)
  }

  // ---- round 13: the retired residual churn classes -------------------

  test("per-epoch codegen star ids normalize; star structure survives") {
    val out = n("*(3) Project [value#12]\n*(17) HashAggregate")
    assert(!out.contains("*(3)") && !out.contains("*(17)"))
    assert(out.linesIterator.forall(_.startsWith("*(x)")),
      "the codegen star marker itself must survive")
  }

  test("count-distinct branch order canonicalizes everywhere it leaks " +
       "(Expand arguments, downstream column lists, hashpartitioning)") {
    // the rewrite's signature: >= 2 CASE WHEN items in one list; Spark
    // emits them in hash order that varies run to run
    def expand(order: Seq[String]) =
      "Arguments: [" + order.zipWithIndex.map { case (t, i) =>
        s"[CASE WHEN (w#7 = $t) THEN doc_id#3 END, null, ${i + 1}]" }
        .mkString(", ") + "], [gid#9]"
    assert(n(expand(Seq("scan", "hash"))) === n(expand(Seq("hash", "scan"))))
    // the true Expand shape is a DIAGONAL (branch i holds its term at
    // slot i, nulls elsewhere) and the term->slot assignment itself is
    // the noise — permutations must rebuild equal
    def diag(order: Seq[String]) =
      "Arguments: [" + order.zipWithIndex.map { case (t, i) =>
        val slots = order.indices.map(j =>
          if (j == i) s"CASE WHEN (w#7 = $t) THEN doc_id#3 END" else "null")
        slots.mkString("[", ", ", s", ${i + 1}]") }
        .mkString(", ") + "], [gid#9]"
    assert(n(diag(Seq("scan", "hash", "batch"))) ===
      n(diag(Seq("batch", "scan", "hash"))))
    assert(n(n(diag(Seq("batch", "scan", "hash")))) ===
      n(diag(Seq("batch", "scan", "hash"))))
    // the gid LABEL pairing varies with the same hash order — the
    // FILTER predicates must normalize equal too
    def funcs(pairs: Seq[(String, Int)]) =
      "Functions [2]: [" + pairs.map { case (t, g) =>
        s"partial_count(CASE WHEN (w = '$t') THEN doc_id END#12) " +
          s"FILTER (WHERE (gid#9 = $g))" }.mkString(", ") + "]"
    assert(n(funcs(Seq("scan" -> 1, "hash" -> 2))) ===
      n(funcs(Seq("scan" -> 2, "hash" -> 1))))
    def keys(order: Seq[String]) =
      "Keys [3]: [" + order.map(t =>
        s"CASE WHEN (w = '$t') THEN doc_id END#12").mkString(", ") +
        ", gid#9]"
    val ka = n(keys(Seq("scan", "hash")))
    assert(ka === n(keys(Seq("hash", "scan"))))
    // the non-CASE trailing item keeps its slot
    assert(ka.trim.endsWith("gid#x]"))
    def hp(order: Seq[String]) =
      "Arguments: hashpartitioning(" + order.map(t =>
        s"CASE WHEN (w = '$t') THEN doc_id END#12").mkString(", ") +
        ", gid#9, 4), ENSURE_REQUIREMENTS, [plan_id=19]"
    val ha = n(hp(Seq("scan", "hash")))
    assert(ha === n(hp(Seq("hash", "scan"))))
    assert(ha.contains("gid#x, 4)"), "arity and gid keep their slots")
    // idempotent; single-CASE and CASE-free lists pass through untouched
    assert(n(n(expand(Seq("hash", "scan")))) === n(expand(Seq("hash", "scan"))))
    val plain = "Input [2]: [l_returnflag#8, sum#43L]"
    assert(n(plain).contains("[l_returnflag#x, sum#x]"))
    val one = "Functions [1]: [count(CASE WHEN (w = 'scan') THEN d END)]"
    assert(n(one) === "Functions [1]: [count(CASE WHEN (w = 'scan') THEN d END)]")
  }

  // ---- round 14: the multi-distinct-COLUMN rewrite class (dq_suggest) --

  test("bare-column Expand diagonals canonicalize: slot/label " +
       "assignment permutations rebuild equal, labels erased") {
    // count(DISTINCT a), count(DISTINCT b): branch block is
    // [base-with-CASEs, [colA, null, 1, null], [null, colB, 2, null]]
    // and WHICH column owns which slot/label is per-JVM hash noise
    def block(first: String, second: String) =
      s"Arguments: [[null, null, 0, CASE WHEN isnull(v#7) THEN 1 ELSE 0 END], " +
        s"[$first#3, null, 1, null], [null, $second#5, 2, null]], [gid#9]"
    val a = n(block("event_id", "user_id"))
    val b = n(block("user_id", "event_id"))
    assert(a === b, s"permutation not canonical:\n$a\n$b")
    assert(!a.contains(", 1,") && !a.contains(", 2,"),
      "gid labels must erase")
    assert(n(a) === a, "idempotent")
    // grouping-sets Expands carry spark_grouping_id, never gid — the
    // diagonal rebuild must not touch them (branch order is semantic)
    val gs = "Arguments: [[a#1, null, 0], [null, b#2, 1]], " +
      "[a#1, b#2, spark_grouping_id#3]"
    assert(n(gs) === n(gs)) // stable
    assert(n(gs).contains("[a#x, null, 0], [null, b#x, 1]"),
      "grouping-sets branches must keep their declared order and labels")
  }

  test("flat column runs before gid#x sort (Keys/Input/Results/" +
       "hashpartitioning downstream of the column-diagonal rewrite)") {
    assert(n("Keys [3]: [user_id#8, event_id#3, gid#9]") ===
      n("Keys [3]: [event_id#3, user_id#8, gid#9]"))
    assert(n("Arguments: hashpartitioning(user_id#8, event_id#3, gid#9, 4), [plan_id=7]") ===
      n("Arguments: hashpartitioning(event_id#3, user_id#8, gid#9, 4), [plan_id=7]"))
    // arity and trailing items keep their slots
    assert(n("Arguments: hashpartitioning(user_id#8, event_id#3, gid#9, 4), [plan_id=7]")
      .contains("gid#x, 4)"))
    // a CASE tail's END#x must never be pulled into the sorted run
    val withCase = "Keys [3]: [CASE WHEN (w = 'a') THEN d END#12, zz#3, gid#9]"
    assert(n(withCase).contains("END#x, zz#x, gid#x"))
  }

  test("expression-term Expand diagonals and the Sort/Keys runs they " +
       "feed canonicalize (count(DISTINCT cast(...)) class)") {
    // column_profile: count(DISTINCT o_custkey), count(DISTINCT
    // cast(o_orderdate as date)), ... — the distinct terms are
    // expressions, and their slot order is per-JVM hash noise
    def block(first: String, second: String) =
      s"Arguments: [[null, null, n, CASE WHEN isnull(v#7) THEN 1 ELSE 0 END], " +
        s"[$first, null, n, null], [null, $second, n, null]], [gid#9]"
    val cast = "cast(round((p#4 * 100.0), 0) as bigint)"
    assert(n(block("o_custkey#3", cast)) === n(block(cast, "o_custkey#3")))
    val castAttr = "CAST(round((p * 100.0D), 0) AS BIGINT)#12"
    def sortArgs(a: String, b: String) =
      s"Arguments: [$a ASC NULLS FIRST, $b ASC NULLS FIRST, " +
        "gid#9 ASC NULLS FIRST], false, 0"
    assert(n(sortArgs("o_custkey#3", castAttr)) ===
      n(sortArgs(castAttr, "o_custkey#3")))
    def keys(a: String, b: String) = s"Keys [3]: [$a, $b, gid#9]"
    assert(n(keys("o_custkey#3", castAttr)) === n(keys(castAttr, "o_custkey#3")))
    for (line <- Seq(block("o_custkey#3", cast), sortArgs(castAttr, "o_custkey#3"),
        keys(castAttr, "o_custkey#3")))
      assert(n(n(line)) === n(line), "idempotent")
    // the gid item and what follows it keep their slots
    assert(n(sortArgs(castAttr, "o_custkey#3"))
      .endsWith("gid#x ASC NULLS FIRST], false, 0"))
  }

  // ---- round 15 (ADVICE r14): the rewrites are gated to the known
  // field kinds (Expand Arguments + Input/Keys/Results/Functions/
  // hashpartitioning) — a gid line under any OTHER field must pass
  // through as churn to audit, never silently relabel
  test("diagonal/key-run rewrites only fire under the known field kinds") {
    // a hypothetical future node printing gid under Condition: — the
    // column run must KEEP its declared order
    val cond = "Condition: [user_id#8, event_id#3, gid#9]"
    assert(n(cond).contains("[user_id#x, event_id#x, gid#x]"),
      "unknown field kind must not sort")
    // ... and a bare-column diagonal under it must keep slots + labels
    val condDiag = "Condition: [[b#3, null, 1, null], [null, a#5, 2, null]], [gid#9]"
    assert(n(condDiag).contains("[[b#x, null, 1, null], [null, a#x, 2, null]]"),
      "unknown field kind must not rebuild diagonals")
    // the known kinds still fire (regression guard for the gate itself)
    assert(n("Results [3]: [b#3, a#5, gid#9]").contains("[a#x, b#x, gid#x]"))
  }
}
