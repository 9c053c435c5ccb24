package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{NormalizeText, RollingHash, ZInterleave}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions AND the SQL front door for the Column-level
  * operator library at session-build time (survives session cloning,
  * available to pure-SQL users). [[GraftSession.withExtensions]]
  * derives such a session from an existing one; outside this library,
  * set `spark.sql.extensions=graft.GraftExtensions`.
  *
  * SQL surface:
  *   - `rolling_hash(text)` — codegen rolling hash (fingerprinting)
  *   - `z_interleave(a, b, bits)` — codegen Morton key (z-order writes)
  *   - `fingerprint(text)` — normalization-invariant md5 doc digest
  *     (the exact-dedup / decontamination key)
  *   - `graft_bucket(id, seed)` — the deterministic md5 sampling
  *     bucket in [0, 1e6) every sampler/splitter derives from
  *   - `quality_rules(text)` — struct of the 7 Gopher-style boolean
  *     gates (default config); `quality_pass(text)` — their AND
  *   - `chunk_windows(text, chunkTokens, stride)` — array of RAG
  *     chunk structs (literal sizes), for `LATERAL explode(...)`
  *   - `lang_id(text)` — heuristic marker-word language id
  *   - `html_extract(html)` — tag strip + entity decode (the
  *     crawled-text extraction pass)
  *
  * Column-composed functions go through the Bridge: the builder wraps
  * the argument expressions in Columns, reuses the library's exact
  * Column formulation, and unwraps — one definition, two surfaces.
  *
  * Pinned by `GraftExtensionsSpec` and `RangeJoinRewriteSpec`, which
  * run in a child session from [[GraftSession.withExtensions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(name: String, n: Int)(
      exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n,
      s"$name requires exactly $n argument(s), got ${exprs.length}")
    exprs
  }

  private def inject(
      e: SparkSessionExtensions, name: String, sourceClass: String, n: Int)(
      build: Seq[Column] => Column): Unit =
    e.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(sourceClass, name),
      exprs => Bridge.eagerExpression(
        build(arity(name, n)(exprs).map(Bridge.column)))))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      exprs => RollingHash(arity("rolling_hash", 1)(exprs).head)))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "nfc_normalize"),
      exprs => NormalizeText(arity("nfc_normalize", 1)(exprs).head, "NFC")))
    e.injectFunction((
      FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[ZInterleave].getName, "z_interleave"),
      exprs => {
        val bits = arity("z_interleave", 3)(exprs)(2) match {
          case IntegerLiteral(v) => v
          case other => throw new IllegalArgumentException(
            s"z_interleave bits must be an integer literal, got $other")
        }
        ZInterleave(exprs.head, exprs(1), bits)
      }))
    inject(e, "fingerprint", "graft.text.TextFunctions", 1)(cols =>
      graft.text.TextFunctions.fingerprint(cols.head))
    inject(e, "graft_bucket", "graft.ops.Sampling", 2)(cols =>
      graft.ops.Sampling.bucket(cols.head, cols(1)))
    e.injectFunction((
      FunctionIdentifier("chunk_windows"),
      new ExpressionInfo("graft.text.Chunking", "chunk_windows"),
      exprs => {
        val args = arity("chunk_windows", 3)(exprs)
        val (chunk, stride) = (args(1), args(2)) match {
          case (IntegerLiteral(c), IntegerLiteral(s)) => (c, s)
          case other => throw new IllegalArgumentException(
            s"chunk_windows chunkTokens/stride must be integer literals, got $other")
        }
        Bridge.eagerExpression(graft.text.Chunking.windowsOf(
          Bridge.column(args.head), chunk, stride))
      }))
    inject(e, "lang_id", "graft.text.TextFunctions", 1)(cols =>
      graft.text.TextFunctions.langId(cols.head))
    inject(e, "html_extract", "graft.text.Html", 1)(cols =>
      graft.text.Html.extractText(cols.head))
    inject(e, "quality_rules", "graft.text.QualityFilters", 1)(cols =>
      struct(graft.text.QualityFilters.rules(cols.head)
        .map { case (n, c) => c.as(n) }: _*))
    inject(e, "quality_pass", "graft.text.QualityFilters", 1)(cols =>
      graft.text.QualityFilters.rules(cols.head)
        .map(_._2).reduce(_ && _))
    // opt-in logical rewrite: naive non-equi point-in-interval joins
    // become the binned equi-join decomposition when
    // spark.graft.rangeJoin.binWidth is set (see RangeJoinRewrite)
    e.injectOptimizerRule(graft.plans.RangeJoinRewrite)
  }
}
