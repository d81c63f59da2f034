package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.Assertions.fail

/** Test inputs read from outside the repo. */
object Fixtures {

  /** `path`, or a test failure that names it: a missing fixture fails
    * the test loudly and is never skipped. */
  def required(path: String): Path = {
    val p = Paths.get(path)
    if (!Files.exists(p))
      fail(s"missing test fixture $path (the reference checkout is not present)")
    p
  }
}
