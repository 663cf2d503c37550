package graft

/** Parsing of graft's numeric env knobs: a bad value fails fast, naming the
  * knob and the value. */
object Knobs {

  /** `raw` as a positive Int, else an IllegalArgumentException naming
    * `knob` and `raw`. */
  def positiveInt(knob: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"$knob must be a positive integer, got '$raw'"))

  /** Env var `knob` through [[positiveInt]], or `default` when it is unset. */
  def envPositiveInt(knob: String, default: Int): Int =
    sys.env.get(knob).fold(default)(positiveInt(knob, _))
}
