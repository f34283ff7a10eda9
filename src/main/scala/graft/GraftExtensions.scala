package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

import graft.functions.{BloomContains, CmsSketch, DotProduct, JaroWinkler, MinHashSig, MisraGries, MultiMatch, ShingleJaccard, SimHash32, TextStats, TopKAgg, WinnowFps, WordShingles}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions: native functions the built-in operator set
  * can't express efficiently (SURVEY.md §7.4). Enable with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * - `minhash_sig(text, numHashes, shingleLen)` — compiled MinHash
  *   signature (see [[graft.functions.MinHashSig]]).
  * - `dot_f64(a, b)` — compiled sequential dot product of two
  *   `array<double>` columns (see [[graft.functions.DotProduct]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    // SQL MERGE INTO on store tables → the store's native keyed merge
    // (buckets containing batch keys only; no group-based rewrite)
    extensions.injectPostHocResolutionRule(graft.catalog.GraftMergeRule)
    // after GraftMergeRule (which consumes MERGE/DELETE/UPDATE targets):
    // overlay reads of delta-bearing store tables with the
    // merge-on-read plan; delta-free tables keep the pure DSv2 scan.
    // Both pick their files in one planner, graft.store.StoreFileIndex
    extensions.injectPostHocResolutionRule(graft.catalog.GraftDeltaReadRule)
    // SQL TVF over the change feed: SELECT * FROM
    // table_changes('cat.ns.t', fromV [, toV]) — the Delta-parity
    // surface letting a pure-SQL consumer reach row-level CDC
    extensions.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.catalog.GraftTableChanges.getClass.getName,
        "table_changes"),
      (args: Seq[Expression]) => graft.catalog.GraftTableChanges.build(args)))
    // SQL TVF over named refs: SELECT * FROM table_ref('cat.ns.t',
    // 'main') — the Iceberg VERSION-AS-OF-ref surface; a SQL-only
    // consumer reads the WAP publish branch, never an unaudited head
    extensions.injectTableFunction((
      new FunctionIdentifier("table_ref"),
      new ExpressionInfo(graft.catalog.GraftTableRef.getClass.getName,
        "table_ref"),
      (args: Seq[Expression]) => graft.catalog.GraftTableRef.build(args)))
    // SQL TVF over the CDC sink's cross-table consistency cursor:
    // SELECT * FROM table_consistent('cat', 'table') — a SQL-only
    // consumer joining sink-fed tables can never observe a torn batch
    extensions.injectTableFunction((
      new FunctionIdentifier("table_consistent"),
      new ExpressionInfo(graft.catalog.GraftTableConsistent.getClass.getName,
        "table_consistent"),
      (args: Seq[Expression]) =>
        graft.catalog.GraftTableConsistent.build(args)))
    extensions.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(text, IntegerLiteral(n), IntegerLiteral(len)) =>
          MinHashSig(text, n, len)
        case _ => throw new IllegalArgumentException(
          "usage: minhash_sig(text, numHashes int literal, shingleLen int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_f64"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException("usage: dot_f64(a, b)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text, IntegerLiteral(len)) => WordShingles(text, len)
        case _ => throw new IllegalArgumentException(
          "usage: word_shingles(text, shingleLen int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => SimHash32(text)
        case _ => throw new IllegalArgumentException("usage: simhash32(text)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("shingle_jaccard"),
      new ExpressionInfo(classOf[ShingleJaccard].getName, "shingle_jaccard"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b, IntegerLiteral(len)) => ShingleJaccard(a, b, len)
        case _ => throw new IllegalArgumentException(
          "usage: shingle_jaccard(text_a, text_b, shingleLen int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => JaroWinkler(a, b)
        case _ => throw new IllegalArgumentException(
          "usage: jaro_winkler(a, b)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (args: Seq[Expression]) => args match {
        case Seq(text, IntegerLiteral(sl), IntegerLiteral(w)) =>
          WinnowFps(text, sl, w)
        case _ => throw new IllegalArgumentException(
          "usage: winnow_fps(text, shingleLen int literal, window int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("mmr_select"),
      new ExpressionInfo(classOf[graft.functions.MmrSelect].getName, "mmr_select"),
      (args: Seq[Expression]) => args match {
        case Seq(cands, IntegerLiteral(k), IntegerLiteral(lam)) =>
          graft.functions.MmrSelect(cands, k, lam)
        case _ => throw new IllegalArgumentException(
          "usage: mmr_select(candidates array<struct<id,rel_micro,emb>>, " +
            "k int literal, lambdaTenths int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketch].getName, "cms_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(tok, IntegerLiteral(d), IntegerLiteral(w)) =>
          CmsSketch(tok, d, w)
        case _ => throw new IllegalArgumentException(
          "usage: cms_sketch(token, depth int literal, width int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("multi_match"),
      new ExpressionInfo(classOf[MultiMatch].getName, "multi_match"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(s: UTF8String, StringType)) =>
          MultiMatch(text, s.toString.split(",").toSeq)
        case _ => throw new IllegalArgumentException(
          "usage: multi_match(text, 'p1,p2,...' string literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
      (args: Seq[Expression]) => args match {
        case Seq(tok, IntegerLiteral(k)) => MisraGries(tok, k)
        case _ => throw new IllegalArgumentException(
          "usage: misra_gries(token, k int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopKAgg].getName, "top_k"),
      (args: Seq[Expression]) => args match {
        case Seq(score, id, IntegerLiteral(k)) => TopKAgg(score, id, k)
        case _ => throw new IllegalArgumentException(
          "usage: top_k(score bigint, id bigint, k int literal)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (args: Seq[Expression]) => args match {
        case Seq(filterB64, value) => BloomContains(filterB64, value)
        case _ => throw new IllegalArgumentException(
          "usage: bloom_contains(filterB64 string literal, value)")
      }))
    extensions.injectFunction((
      new FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (args: Seq[Expression]) => args match {
        case text +: stops if stops.nonEmpty && stops.forall {
          case Literal(_: UTF8String, StringType) => true
          case _ => false
        } =>
          TextStats(text, stops.map(
            _.asInstanceOf[Literal].value.asInstanceOf[UTF8String].toString))
        case _ => throw new IllegalArgumentException(
          "usage: text_stats(text, stopword literals...)")
      }))
  }
}
