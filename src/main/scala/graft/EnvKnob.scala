package graft

/** The one parser for the engine's positive env overrides. An unset
  * variable means the default; a set one must be a whole number in
  * `1..max` (or, for [[positiveDouble]], a finite number > 0),
  * surrounding blanks allowed, or the run fails naming the variable and
  * the value. A typo never silently prices the default.
  */
private[graft] object EnvKnob {

  def positive(name: String, default: Long, max: Long = Long.MaxValue): Long =
    parsePositive(name, sys.env.get(name), default, max)

  private[graft] def parsePositive(name: String, raw: Option[String],
      default: Long, max: Long = Long.MaxValue): Long = raw match {
    case None => default
    case Some(s) => s.trim.toLongOption.filter(v => v > 0 && v <= max)
      .getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer in 1..$max, got '$s'"))
  }

  def positiveDouble(name: String, default: Double): Double =
    parsePositiveDouble(name, sys.env.get(name), default)

  private[graft] def parsePositiveDouble(name: String, raw: Option[String],
      default: Double): Double = raw match {
    case None => default
    case Some(s) => s.trim.toDoubleOption.filter(v => v > 0 && !v.isInfinite)
      .getOrElse(throw new IllegalArgumentException(
        s"$name must be a number > 0, got '$s'"))
  }
}
