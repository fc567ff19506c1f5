package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** The required-literal guard is an optimization only: a seeded
  * differential run of the guarded abbreviation rewrite against the
  * same rules with every guard off, over names built from the rules'
  * own literals with letters swapped for non-ASCII look-alikes. The
  * regex engine folds case per code point
  * (toLowerCase(toUpperCase(cp))), so 'ı', 'ſ', 'K' (U+212A) and 'İ'
  * match ASCII letters while 'ß', 'ﬁ' and combining marks do not; a
  * guard that folds differently skips rules the pattern would fire. */
class RewriteGuardSpec extends AnyFunSuite {
  import RewriteGuardSpec._

  test("guarded rewrite ≡ unguarded rewrite on non-ASCII look-alike names") {
    val rules = AbbrTables.hardcode ++ AbbrTables.abbr
    val guarded = new Rewrite(rules)
    val unguarded = new Rewrite(rules, guarded = false)
    val names = lookAlikeNames(rules, new scala.util.Random(20261017L), variants = 4)
    assert(names.length > 1000)
    val diffs = names.filter(n => guarded(n) != unguarded(n))
    assert(diffs.isEmpty, s"${diffs.length} names rewrite differently, e.g. " +
      diffs.take(5).map(n => s"'$n' → '${guarded(n)}' vs '${unguarded(n)}'").mkString("; "))
  }
}

object RewriteGuardSpec {
  private val Marks = Seq("\u0301", "\u0308", "\u0307")

  /** Non-ASCII (and upper-case) stand-ins for one ASCII letter. */
  private def lookAlikes(c: Char): Seq[String] = c.toLower match {
    case 'i' => Seq("\u0131", "\u0130", "I")
    case 's' => Seq("\u017F", "S")
    case 'k' => Seq("\u212A", "K")
    case l if l.isLetter => Seq(l.toUpper.toString)
    case _ => Nil
  }

  /** One mutation of `lit`: each letter independently keeps its ASCII
    * form, takes a look-alike, or gains a combining mark; "ss" and
    * "fi" may also collapse to 'ß' and 'ﬁ'. */
  private def mutate(lit: String, rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < lit.length) {
      val two = lit.substring(i, math.min(i + 2, lit.length)).toLowerCase
      if ((two == "ss" || two == "fi") && rnd.nextInt(4) == 0) {
        sb ++= (if (two == "ss") "\u00DF" else "\uFB01"); i += 2
      } else {
        val c = lit.charAt(i)
        val alts = lookAlikes(c)
        rnd.nextInt(6) match {
          case 0 | 1 | 2 if alts.nonEmpty => sb ++= alts(rnd.nextInt(alts.length))
          case 3 if c.isLetter => sb += c; sb ++= Marks(rnd.nextInt(Marks.length))
          case _ => sb += c
        }
        i += 1
      }
    }
    sb.toString
  }

  /** Names around each rule's required literal: the literal in plain
    * ASCII once, then `variants` mutations, each between words drawn
    * from other rules' literals. */
  def lookAlikeNames(rules: Seq[(String, String)], rnd: scala.util.Random,
      variants: Int): Seq[String] = {
    val lits = rules.flatMap { case (pat, _) => Option(Rewrite.requiredLiteral(pat)) }
      .distinct
    def word() = lits(rnd.nextInt(lits.length))
    lits.flatMap { lit =>
      (lit +: Seq.fill(variants)(mutate(lit, rnd)))
        .map(v => s"${word()} $v ${word()}")
    }
  }
}
