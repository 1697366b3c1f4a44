package perfbench

/** `--key value` command-line options. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${argv.mkString(" ")}")
    argv.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }
  def get(k: String): Option[String] = kv.get(k)
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String, default: Int): Int = get(k).map(_.toInt).getOrElse(default)
}
