package graft.operators

/** Engine-portable fixed-point SQL fragments — the oracle-parity
  * idioms the registry uses tens of times (r10 verdict item 7 asked
  * for them consolidated so one inline copy can't silently drift).
  *
  * Background (SURVEY §5 output-cast discipline): the driver's hash
  * compare is cell-exact, so every division/log that feeds a compared
  * column must produce bit-identical values under Spark AND DuckDB.
  * Two engine differences bite:
  *   - integer division: Spark's `div` truncates toward zero, DuckDB's
  *     `//` floors — they differ exactly on negative numerators, so
  *     divisions are sign-split: compute on magnitudes, re-apply sign;
  *   - doubles: `ln`/`sqrt` are IEEE-correctly-rounded on both engines
  *     ONLY from exactly-representable inputs (BIGINT→DOUBLE is exact,
  *     HUGEINT→DOUBLE is not), and quantizing ⌊f(x)·10^q⌋ to BIGINT
  *     immediately after the transcendental keeps every downstream
  *     fold exact.
  *
  * Each helper emits a SQL FRAGMENT (string) usable in both
  * `expr(...)` on the Spark side and the DuckDB oracle text, with the
  * `duck` flag selecting the engine's integer-division operator.
  * FixedPointSpec property-tests the fragments against BigInteger
  * reference semantics across sign/magnitude grids.
  */
object FixedPoint {

  /** Sign-split integer division: ⌊|num| / den⌋ with num's sign
    * re-applied (trunc(num/den)) — identical under Spark's truncating
    * `div` and DuckDB's flooring `//`. Assumes a POSITIVE denominator. */
  def sdiv(num: String, den: String, duck: Boolean): String = {
    val d = if (duck) "//" else "div"
    s"""(CASE WHEN ($num) >= 0 THEN ($num) $d ($den)
       | ELSE -((-($num)) $d ($den)) END)"""
      .stripMargin.replace("\n", " ")
  }

  /** Sign-split ppm division: ⌊|num|·10⁶ / den⌋ with num's sign
    * re-applied — identical under Spark's truncating `div` and
    * DuckDB's flooring `//`. Assumes a POSITIVE denominator — use
    * [[sdivPpm2]] when the denominator can go negative too. */
  def sdivPpm(num: String, den: String, duck: Boolean): String = {
    val d = if (duck) "//" else "div"
    s"""CASE WHEN ($num) >= 0 THEN (($num) * 1000000) $d ($den)
       | ELSE -((-($num)) * 1000000 $d ($den)) END"""
      .stripMargin.replace("\n", " ")
  }

  /** Fully sign-symmetric ppm division: result sign = sign(num·den),
    * magnitude = (|num|·10⁶) div |den| — identical under Spark's
    * truncating `div` and DuckDB's flooring `//` for ANY operand
    * signs. */
  def sdivPpm2(num: String, den: String, duck: Boolean): String = {
    val d = if (duck) "//" else "div"
    s"""CASE WHEN (($num) >= 0) = (($den) >= 0)
       | THEN (abs($num) * 1000000) $d abs($den)
       | ELSE -((abs($num) * 1000000) $d abs($den)) END"""
      .stripMargin.replace("\n", " ")
  }

  /** Quantized natural log: ⌊ln(x)·scale⌋ as BIGINT. `x` must be a
    * POSITIVE expression whose double conversion is exact on both
    * engines (BIGINT counts, ppm integers — not HUGEINT sums). The
    * ⌊ln·10⁶⌋ fold is the q_char_kl device used across the entropy /
    * perplexity / PMI / Zipf family. */
  def lnQ(x: String, scale: Long = 1000000L): String =
    s"CAST(floor(ln($x) * $scale) AS BIGINT)"
}
