package graft.tsdb

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PromQL-style label matchers compiled to Catalyst predicates.
  *
  * Reference behavior being reproduced (not ported):
  *  - `postingsForMatchers` plans equality/regex/negated matchers over the
  *    inverted index (`cassandra/index/index.go:3497-3632`). In Spark the
  *    bitmap algebra is replaced by relational predicates that Catalyst
  *    pushes into the parquet scan — there is no index structure to keep.
  *  - Missing-label rule (prometheus#3575): an empty-string value matches a
  *    missing label (`index.go:3765-3814`). We model that with
  *    `coalesce(label, "")`.
  *  - Prometheus regexes are fully anchored RE2 (`index.go:3664-3692`);
  *    Spark `rlike` is unanchored Java regex, so patterns are wrapped as
  *    `^(?:re)$`. Callers must stay within the RE2 ∩ java.util.regex dialect.
  *  - Regex→IN simplification: an alternation of ≤10 literals compiles to
  *    an IN-list instead of a regex scan (`index.go:3700-3763`, threshold
  *    const `index.go:66`). Catalyst then prunes parquet row groups with
  *    dictionary filters, which `rlike` would defeat.
  */
sealed trait Matcher { def label: String }
final case class MatchEq(label: String, value: String) extends Matcher
final case class MatchNeq(label: String, value: String) extends Matcher
final case class MatchRe(label: String, pattern: String) extends Matcher
final case class MatchNre(label: String, pattern: String) extends Matcher

/** Explicit IN-list matchers, produced by the mutable-label rewrite
  * ([[MutableMapping.rewrite]]). The reference merges expanded values into
  * one regex with every value `regexp.QuoteMeta`-escaped
  * (`cassandra/mutable/processor.go:210-232`, `MergeRegex`); a typed IN-list
  * carries the same semantics without escaping hazards and compiles to a
  * pushdown-able `isin(...)`. An empty list matches nothing (negated: all).
  */
final case class MatchIn(label: String, values: Seq[String]) extends Matcher
final case class MatchNotIn(label: String, values: Seq[String]) extends Matcher

object Matchers {
  /** Max alternates rewritten to IN, as in reference `index.go:66`. */
  val MaxAlternates = 10

  private def anchor(p: String): String = "^(?:" + p + ")$"

  /** `a|b|c` with purely literal alternates → Some(Seq(a,b,c)). */
  def literalAlternates(pattern: String): Option[Seq[String]] = {
    val parts = pattern.split("\\|", -1).toSeq
    val literal = "[A-Za-z0-9_\\- ]*".r
    if (parts.nonEmpty && parts.size <= MaxAlternates &&
      parts.forall(p => literal.pattern.matcher(p).matches())) Some(parts)
    else None
  }

  /** Compile one matcher against a concrete string column.
    *
    * Missing label (null) behaves as the empty string (prometheus#3575) —
    * but compiled null-AWARE rather than via a blanket `coalesce(l, '')`:
    * a coalesce-wrapped predicate cannot be pushed into the parquet scan
    * (`PushedFilters: []`), which at 100 TB means reading row groups the
    * statistics would have skipped. Each case below adds the null branch
    * only when the empty string would actually match.
    */
  def predicate(labelCol: Column, m: Matcher): Column = {
    val l = labelCol
    def nullMatches(matchesEmpty: Boolean, base: Column): Column =
      if (matchesEmpty) l.isNull || base else l.isNotNull && base
    def emptyMatchesRe(p: String): Boolean =
      java.util.regex.Pattern.matches(anchor(p), "")
    m match {
      case MatchEq(_, "")     => l.isNull || l === ""
      case MatchEq(_, value)  => l === value // null fails naturally
      case MatchNeq(_, "")    => l.isNotNull && l =!= ""
      case MatchNeq(_, value) => l.isNull || l =!= value
      case MatchRe(_, p) =>
        val base = literalAlternates(p) match {
          case Some(lits) => l.isin(lits: _*)
          case None       => l.rlike(anchor(p))
        }
        nullMatches(emptyMatchesRe(p), base)
      case MatchNre(_, p) =>
        val base = literalAlternates(p) match {
          case Some(lits) => !l.isin(lits: _*)
          case None       => !l.rlike(anchor(p))
        }
        nullMatches(!emptyMatchesRe(p), base)
      case MatchIn(_, values) =>
        if (values.isEmpty) lit(false)
        else nullMatches(values.contains(""), l.isin(values: _*))
      case MatchNotIn(_, values) =>
        if (values.isEmpty) lit(true)
        else nullMatches(!values.contains(""), !l.isin(values: _*))
    }
  }

  /** AND of all matchers, resolving each label via `resolve`
    * (e.g. concrete columns for the events table, map lookups for a
    * generic series table).
    */
  def all(resolve: String => Column, ms: Seq[Matcher]): Column =
    ms.map(m => predicate(resolve(m.label), m)).reduce(_ && _)

  /** F10 — forced matcher injection: the `X-SquirrelDB-Forced-Matcher`
    * header adds an equality matcher to EVERY query of the session
    * (reference `api/promql/queryable.go:136-151`,
    * `api/promql/filtering_index.go:31-80`). Forced matchers are
    * prepended so they conjoin with — and can never be shadowed by —
    * user matchers on the same label.
    */
  def withForced(userMs: Seq[Matcher], forced: Seq[Matcher]): Seq[Matcher] =
    forced ++ userMs
}
