package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.StringReplace
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import graft.operators.Text

/** Engine↔driver output-contract lints (SURVEY §5.2 registration rules).
  *
  * Round 9 shipped three driver-red queries that the local DuckDB compare
  * passed: two oracles leaking DuckDB's `sum(BIGINT) → HUGEINT` (the
  * driver's hasher is raw-type-strict where the local normalizer forgave),
  * and one query emitting a top-level `array<bigint>` column (the driver's
  * pandas sorter cannot order nested values). These lints make that whole
  * class unshippable: every registered query must emit only atomic,
  * driver-sortable columns, and `tools/check.py` FAILs (not WARNs) when an
  * oracle DESCRIBE yields HUGEINT/DECIMAL/LIST at top level.
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  /** Every registered query, constructed once at sf0.001. */
  lazy val frames = SparkEntry.queries.toSeq.sortBy(_._1).map {
    case (name, fn) => name -> fn(spark, TestSpark.sf)
  }

  test("every registered query emits only atomic driver-sortable columns") {
    val bad = frames.flatMap {
      case (name, df) =>
        df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] ||
              f.dataType.isInstanceOf[DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(bad.isEmpty,
      s"non-atomic output columns (driver hash cannot sort these): $bad")
  }

  test("every registered query's planned executedPlan passes the unpartitioned-window audit") {
    // the check graft.Bench runs in its warm pass: a NEW global window
    // fails the spec suite, not only a driver bench
    val bad = frames.flatMap { case (name, df) => WindowAudit.violation(name, df) }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("BPE encode memoizes the merge chain over the distinct-word dictionary") {
    // VERDICT r9 "What's missing #3": at a 50k vocabulary a merge chain
    // applied per-document explodes the corpus-side projection. The
    // production shape encodes DISTINCT words once and joins back — so
    // every Project containing a StringReplace must sit ABOVE the
    // distinct-word Aggregate (dictionary branch), never over the raw
    // corpus scan.
    val docs = spark.range(4).selectExpr("id AS doc_id",
      "'ab ab ba abab' AS text")
    val merges = Seq(("a", "b"), ("ab", "ab"), ("abab", "a"))
    val df = Text.bpeEncode(docs, merges)
    val plan = df.queryExecution.optimizedPlan
    // (Catalyst typically fuses the fold straight into the dictionary
    // Aggregate's result expressions, so match ANY node carrying a
    // StringReplace, not just Projects.)
    val replNodes = plan.collect {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[StringReplace])) =>
        n
    }
    assert(replNodes.nonEmpty, plan.toString)
    assert(replNodes.forall(n =>
      n.collectFirst { case a: Aggregate => a }.nonEmpty),
      s"merge-chain projection over a non-dictionary branch:\n$plan")
  }

  test("x4q string form decodes exactly from the array-typed artifact") {
    // The registered x4q emits the space-joined scalar form (driver
    // contract); the true data-loader artifact stays array<bigint> here.
    val arr = Text.bpeIdsArray(spark, TestSpark.sf)
    assert(arr.schema("ids").dataType ===
      ArrayType(LongType, containsNull = true))
    val joined = arr.select(col("doc_id"),
      array_join(transform(col("ids"), i => i.cast("string")), " ")
        .as("ids")).orderBy("doc_id").collect()
    val reg = SparkEntry.queries("x4q_bpe_ids")(spark, TestSpark.sf)
      .collect()
    assert(joined.map(_.toSeq).toSeq === reg.map(_.toSeq).toSeq)
  }
}
