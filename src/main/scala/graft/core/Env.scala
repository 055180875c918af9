package graft.core

/** Validated reads of the engine's `SPARK_GRAFT_*` environment knobs:
  * a malformed value fails loudly with the variable's name instead of
  * surfacing later as an unrelated Spark error.
  */
object Env {

  /** `name` as a positive integer, or None when unset. */
  def positiveInt(name: String, env: Map[String, String] = sys.env): Option[Int] =
    env.get(name).map { raw =>
      raw.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$name must be a positive integer, got '$raw'"))
    }
}
