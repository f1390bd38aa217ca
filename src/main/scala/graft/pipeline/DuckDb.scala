package graft.pipeline

object DuckDb {

  /** Double -> DuckDB DOUBLE literal: a bare decimal literal is typed
    * DECIMAL and scale-unification across VALUES rows rounds it (observed
    * 1-ULP drift); an exponent suffix forces DOUBLE, and Double.toString's
    * shortest-roundtrip digits then parse back to the identical bits. */
  def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }
}
