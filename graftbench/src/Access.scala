package graft

/** The program's package-private hashing, reached from the benchmark so
  * the kernel replica times the same function `extractPage` calls. */
object GraftbenchAccess {
  def hexSha256(bytes: Array[Byte]): String = pipeline.Extract.hexSha256(bytes)
}
