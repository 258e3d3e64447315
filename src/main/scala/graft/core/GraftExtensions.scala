package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FloatDotProduct, HilbertIndex, MinHashBandHashes, MinHashSignature, ShingleHashes, SimHash64}

/** Engine extensions, injected via `spark.sql.extensions` (set by
  * [[Session.tuned]]) — the SparkSessionExtensions registration path the
  * build brief's tier (c) describes: the `vec_dot` similarity kernel and the
  * MinHash family (`shingle_hashes`, `minhash_signature`, `minhash_bands`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected integer literal argument, got $other")
    }

  /** Arity check with an actionable message — children(i) on a wrong-arity
    * call would otherwise surface as a raw IndexOutOfBoundsException.
    */
  private def arity(c: Seq[Expression], n: Int, name: String): Seq[Expression] = {
    require(c.length == n, s"$name expects $n arguments, got ${c.length}")
    c
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // restore parquet pushdown for coalesce-over-attributes predicates —
    // the rename-history read shape (provably additive; see its Scaladoc)
    ext.injectPreCBORule(_ => graft.plans.CoalescePushdown)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getCanonicalName, "vec_dot"),
      (children: Seq[Expression]) => {
        val c = arity(children, 2, "vec_dot"); FloatDotProduct(c(0), c(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getCanonicalName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        val c = arity(children, 2, "shingle_hashes")
        ShingleHashes(c(0), intArg(c(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getCanonicalName, "minhash_signature"),
      (children: Seq[Expression]) => {
        val c = arity(children, 3, "minhash_signature")
        MinHashSignature(c(0), intArg(c(1)), intArg(c(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBandHashes].getCanonicalName, "minhash_bands"),
      (children: Seq[Expression]) => {
        val c = arity(children, 4, "minhash_bands")
        MinHashBandHashes(c(0), intArg(c(1)), intArg(c(2)), intArg(c(3)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getCanonicalName, "simhash64"),
      (children: Seq[Expression]) => {
        val c = arity(children, 1, "simhash64"); SimHash64(c(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getCanonicalName, "hilbert_index"),
      (children: Seq[Expression]) => {
        require(children.length >= 3,
          s"hilbert_index expects >= 2 coordinates + bits, got ${children.length}")
        HilbertIndex(children.init, intArg(children.last))
      }))
    // tier (d): physical planning — ORDER BY <vec_dot score> LIMIT k becomes
    // a bounded-heap two-phase top-k for ANY k (never a global sort)
    ext.injectPlannerStrategy(_ => graft.plans.ScoreTopKStrategy)
    // MERGE INTO text over graft catalog tables: the resolved statement is
    // claimed post-resolution and executed through the engine's own
    // bucket-scoped merge (Spark itself has no MERGE execution for tables
    // without SupportsRowLevelOperations — see GraftMergeInto)
    ext.injectPostHocResolutionRule(s => graft.catalog.MergeIntoGraftTableRule(s))
    ext.injectPlannerStrategy(_ => graft.catalog.GraftMergeStrategy)
    // SQL-text views over graft catalogs: Spark 4.1 routes CREATE/DROP/SHOW
    // VIEW to the session catalog only (ResolveSessionCatalog refuses v2
    // catalogs), so the DDL is claimed in the Hints batch — which runs
    // BEFORE that refusal — and view reads expand during resolution after
    // Spark's own relation rules have had precedence (see GraftViews)
    ext.injectHintResolutionRule(s => graft.catalog.GraftViewDdlRule(s))
    ext.injectResolutionRule(s => graft.catalog.GraftViewReadRule(s))
    // spark.readStream.table("graft.ns.t"): claim the streaming identifier
    // before the Resolution batch wraps it in a StreamingRelationV2 that
    // would demand MICRO_BATCH_READ (see GraftStreamRelationRule)
    ext.injectHintResolutionRule(s => graft.catalog.GraftStreamRelationRule(s))
    // UPDATE ... WHERE / DELETE FROM ... WHERE text → the engine's own
    // predicate-DML verbs (same claim pattern as MERGE; see GraftDml)
    ext.injectPostHocResolutionRule(s => graft.catalog.GraftDmlRule(s))
    // catalog reads are inlined into the statement by GraftScanInline, which
    // must run after scan pushdown — later than any hook offered here — so
    // GraftCatalog.initialize registers it in the session's extraOptimizations
  }
}
