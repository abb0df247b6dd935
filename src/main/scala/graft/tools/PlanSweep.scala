package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.{Sessions, SparkEntry}

/** Recorded plan anti-pattern gate (VERDICT r17 #3): the 0-Cartesian /
  * SMJ / BNLJ node counts that prove plan identity each round were being
  * re-derived by hand from PLANS.md greps. This tool emits them as a
  * per-query JSON artifact (PLANSWEEP_rNN.json, diffable round-over-round)
  * and flags the two anti-patterns a refactor could silently introduce:
  *
  *  - any `CartesianProduct` node (the suite has zero by design — the only
  *    cross joins are broadcast 1-row/O(settings) scalar attaches and the
  *    bounded jn_cross demo, both of which plan as BroadcastNestedLoopJoin);
  *  - any non-equi join whose BOTH sides exceed a size bound (the legit
  *    BNLJs have a ≤O(settings) broadcast side — ~KBs; a data×data
  *    nested-loop join is the scale killer the manual sweep watched for).
  *    Checked on the OPTIMIZED LOGICAL plan, where `stats.sizeInBytes`
  *    estimates exist (physical BNLJ nodes carry no stats).
  *
  * Node counts come from the formatted-explain DETAILS section (`(N) Node`
  * headers — exactly one per physical node, subqueries included), the same
  * text PLANS.md records, so the artifact and the markdown can never
  * disagree. `collect_list`/`collect_set` occurrences are counted over the
  * full explain text (unbounded per-group buffers — each use is audited).
  *
  * Usage: runMain graft.tools.PlanSweep [sfDir] [outJson] [boundBytes]
  * Exit 1 if anything is flagged. tools/plansweep.py wraps this with the
  * round-over-round diff gate.
  */
object PlanSweep {
  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case x => Seq(x)
  }

  /** An equality predicate that actually splits across the two join sides —
    * the shape ExtractEquiJoinKeys turns into hash/merge join keys. */
  private def hasEquiKey(j: Join): Boolean = {
    def splits(l: Expression, r: Expression): Boolean =
      (l.references.nonEmpty && r.references.nonEmpty) &&
        ((l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
          (l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet)))
    j.condition.map(splitConj).getOrElse(Nil).exists {
      case EqualTo(l, r) => splits(l, r)
      case EqualNullSafe(l, r) => splits(l, r)
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANSWEEP.json")
    val bound = args.lift(2).map(_.toLong).getOrElse(512L * 1024)
    val spark = Sessions.local(Sessions.defaultCpus)
    val detail = Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")
      .map(n => n -> s"""(?m)^\\(\\d+\\) $n\\b""".r).toMap
    val flagged = scala.collection.mutable.ArrayBuffer.empty[String]
    val perQuery = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf, true, "UTF-8")) { df.explain("formatted") }
      val txt = buf.toString("UTF-8")
      val counts = detail.map { case (n, re) => n -> re.findAllIn(txt).size }
      val collects = "collect_(list|set)\\(".r.findAllIn(txt).size
      if (counts("CartesianProduct") > 0)
        flagged += s"""{"query":"$name","kind":"cartesian","detail":"CartesianProduct in physical plan"}"""
      // Non-equi joins with both sides over the bound, on the optimized
      // logical plan (collectWithSubqueries reaches scalar/IN subqueries).
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case j: Join if !hasEquiKey(j) =>
          val (ls, rs) = (j.left.stats.sizeInBytes, j.right.stats.sizeInBytes)
          if (ls > bound && rs > bound)
            flagged += s"""{"query":"$name","kind":"bnlj_both_sides_large",""" +
              s""""detail":"non-equi ${j.joinType} join, est. sizes $ls x $rs bytes > bound $bound"}"""
      }
      name -> (counts + ("collect" -> collects))
    }
    val totals = Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "collect")
      .map(k => k -> perQuery.map(_._2(k)).sum)
    def countsJson(m: Map[String, Int]): String =
      s"""{"cartesian":${m("CartesianProduct")},"smj":${m("SortMergeJoin")},""" +
        s""""bnlj":${m("BroadcastNestedLoopJoin")},"collect":${m("collect")}}"""
    val json = new StringBuilder
    json.append("{\n")
    json.append(s""" "sf": "$sfDir",\n""")
    json.append(s""" "bound_bytes": $bound,\n""")
    json.append(s""" "method": "node counts = formatted-explain details headers ((N) Node, one per physical node, subqueries included); collect = collect_list/collect_set occurrences in explain text; bnlj flag = optimizedPlan non-equi Join with both sides' stats.sizeInBytes > bound",\n""")
    json.append(s""" "totals": ${countsJson(totals.toMap)},\n""")
    json.append(s""" "flagged": [${flagged.mkString(", ")}],\n""")
    json.append(" \"queries\": {\n")
    json.append(perQuery.map { case (n, m) => s"""  "$n": ${countsJson(m)}""" }.mkString(",\n"))
    json.append("\n }\n}\n")
    Files.writeString(Paths.get(out), json.toString)
    println(s"[plansweep] wrote $out: totals=" +
      totals.map { case (k, v) => s"$k=$v" }.mkString(", ") +
      s" flagged=${flagged.size}")
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
