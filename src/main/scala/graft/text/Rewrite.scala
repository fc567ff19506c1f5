package graft.text

import java.util.Locale
import java.util.regex.{Matcher, Pattern}

/** Ordered regex rewrite engine with the exact semantics of the
  * reference's `_abbr_adj` (/root/reference/utils/_abbr.py:5-28):
  *
  *  - rules applied strictly in list order;
  *  - a pattern containing `"(?"` is used as-is with a trailing
  *    `(?!\w)`; any other pattern is wrapped `(?<!\w)…(?!\w)`;
  *  - matching is case-insensitive and Unicode-aware (Python `re`
  *    defaults → Java `CASE_INSENSITIVE | UNICODE_CASE |
  *    UNICODE_CHARACTER_CLASS`);
  *  - the replacement is a space plus the target, then one
  *    left-to-right pass collapsing `"  "` → `" "` and a strip;
  *  - a non-blank target is de-doubled once per rule
  *    (`\btarget\s+target\b` → target, case-SENSITIVE, _abbr.py:24-27);
  *  - final collapse + strip + lowercase (_abbr.py:28).
  *
  * Performance (round 7, guide §1.2 "per-task work"): running ~250
  * matchers per name made the normalize stage ~4.8 ms/name. Each rule
  * now carries a REQUIRED LITERAL — a substring that must occur (under
  * the regex's own case fold, [[Rewrite.fold]]) in the name for the
  * pattern to possibly match,
  * extracted conservatively from the pattern source (rules where no
  * sound literal exists keep a null guard and always run). A guarded
  * miss skips the matcher allocation and regex scan entirely; the
  * rule's residual effects (the once-per-rule `"  "`→`" "` collapse
  * and strip, and the case-sensitive target de-double, which can fire
  * on text produced by EARLIER rules even when this rule's pattern
  * does not match) are preserved verbatim on the skip path. The
  * de-double matcher is additionally guarded by a cheap
  * `name.contains(target)` (necessary condition, case-sensitive like
  * the pattern). Golden parity: the 1180-name normalization fixture
  * suite pins the output bit-for-bit.
  */
final class Rewrite private[text] (rules: Seq[(String, String)], guarded: Boolean)
    extends Serializable {

  def this(rules: Seq[(String, String)]) = this(rules, guarded = true)

  private val FLAGS =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS

  private final case class Compiled(
      pattern: Pattern,
      replacement: String, // " " + target, already quoted for appendReplacement
      requiredLit: String, // folded literal that must occur, or null
      collapse: Pattern,   // null when target is blank
      collapseRepl: String,
      collapseLit: String) // raw target (case-sensitive guard), or null

  @transient private lazy val compiled: Array[Compiled] = rules.map { case (pat, target) =>
    val p =
      if (pat.contains("(?")) Pattern.compile(pat + """(?!\w)""", FLAGS)
      else Pattern.compile("""(?<!\w)""" + pat + """(?!\w)""", FLAGS)
    val collapse =
      if (target.strip().nonEmpty)
        Pattern.compile("""\b""" + target + """\s+""" + target + """\b""")
      else null
    Compiled(p, Matcher.quoteReplacement(" " + target),
      if (guarded) Rewrite.requiredLiteral(pat) else null, collapse,
      if (collapse != null) Matcher.quoteReplacement(target) else null,
      if (collapse != null) target else null)
  }.toArray

  def apply(name0: String): String = {
    var name = name0
    // case-folded shadow for the literal guards, recomputed only when
    // a fired rule actually changed the string
    var ln = Rewrite.fold(name)
    var i = 0
    while (i < compiled.length) {
      val r = compiled(i)
      val prev = name
      if (r.requiredLit == null || ln.contains(r.requiredLit)) {
        name = r.pattern.matcher(name).replaceAll(r.replacement)
          .replace("  ", " ").strip()
      } else {
        // pattern cannot match: replaceAll is the identity, but the
        // reference still collapses one "  " pass and strips per rule
        name = name.replace("  ", " ").strip()
      }
      if (r.collapse != null && name.contains(r.collapseLit))
        name = r.collapse.matcher(name).replaceAll(r.collapseRepl)
      if (name ne prev) ln = Rewrite.fold(name)
      i += 1
    }
    name.replace("  ", " ").strip().toLowerCase(Locale.ROOT)
  }
}

object Rewrite {
  /** abbr_adj = hardcode + abbr1 + abbr2 (_abbr.py:333). */
  lazy val abbrAdj: Rewrite =
    new Rewrite(AbbrTables.hardcode ++ AbbrTables.abbr)

  /** Conservative required-literal extraction from a regex source:
    * the longest run of plain literal characters (letters, digits,
    * space, '&', ',', and escaped '.'/'-') that the pattern demands
    * verbatim. Returns null (no guard) whenever the pattern contains
    * constructs that could make a run optional or alternated ('|',
    * '[', braces) or when the best run is shorter than 2 chars. A char
    * immediately followed by a quantifier ('?', '*', '{') is dropped
    * from its run (it may repeat zero times); '+' keeps the char (one
    * occurrence is required) but ends the run. Folded like the name
    * shadow it is checked against ([[fold]]). */
  private[text] def requiredLiteral(pat: String): String = {
    if (pat.contains("|") || pat.contains("[") || pat.contains("{")) return null
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def endRun(): Unit = { if (cur.nonEmpty) runs += cur.toString; cur.clear() }
    var i = 0
    var depth = 0 // inside (…) groups: lookarounds etc. are not required text
    while (i < pat.length) {
      val c = pat.charAt(i)
      def nextIs(chs: String): Boolean =
        i + 1 < pat.length && chs.indexOf(pat.charAt(i + 1)) >= 0
      c match {
        case '\\' if i + 1 < pat.length =>
          val e = pat.charAt(i + 1)
          if ((e == '.' || e == '-') && !(i + 2 < pat.length &&
              "?*+{".indexOf(pat.charAt(i + 2)) >= 0)) {
            if (depth == 0) cur += e
            i += 1
          } else { // \w, \s, quantified escapes, … — a break, not a literal
            endRun(); i += 1
          }
        case '(' => depth += 1; endRun()
        case ')' => depth = math.max(0, depth - 1); endRun()
        case '^' | '$' | '.' | '*' | '+' | '?' => endRun()
        case lit if lit.isLetterOrDigit || lit == ' ' || lit == '&' || lit == ',' =>
          if (nextIs("?*{")) endRun() // optional char: not required
          else if (depth == 0) {
            cur += lit
            if (nextIs("+")) endRun() // required once, but run ends here
          }
        case _ => endRun()
      }
      i += 1
    }
    endRun()
    val best = runs.sortBy(-_.length).headOption.getOrElse("")
    if (best.length >= 2) fold(best) else null
  }

  /** The case fold java.util.regex applies under CASE_INSENSITIVE |
    * UNICODE_CASE: each code point maps to
    * `Character.toLowerCase(Character.toUpperCase(cp))`, and two code
    * points match iff their folds are equal. `String.toLowerCase` is
    * not that fold: 'ı' (U+0131) and 'ſ' (U+017F) stay put under it
    * but fold to 'i' and 's', and 'İ' (U+0130) lowercases to two
    * chars. A guard built on it would skip rules the pattern fires.
    * Already-folded ASCII is returned as is. */
  private def fold(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) < 128 && !Character.isUpperCase(s.charAt(i)))
      i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      s.codePoints().forEach(cp =>
        sb.appendCodePoint(Character.toLowerCase(Character.toUpperCase(cp))))
      sb.toString
    }
  }
}
