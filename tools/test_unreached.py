#!/usr/bin/env python3
"""Self-test for unreached.py's reachability scan.

Usage: python3 tools/test_unreached.py

Builds a miniature checkout in a temp dir (a root query file, a
perfbench file, library files under ops/ and functions/) and checks
which members the scan reports: seeded unreached members must be
listed, reached, `Kept:` and `private[ops]` ones must not.
"""
import os, sys, tempfile
import unreached as ur

FILES = {
    "src/main/scala/graft/Queries.scala": """
package graft
import graft.ops.Ops
object Queries {
  // Ops.commentOnly is named only in this comment
  val q = Ops.used(1) + graft.functions.Fns.wrap(2)
}
""",
    "perfbench/src/main/scala/perfbench/Bench.scala": """
package perfbench
object Bench { def run() = graft.ops.Ops.benchOnly() }
""",
    "src/main/scala/graft/ops/Ops.scala": """
package graft.ops
object Ops {
  def used(x: Int): Int = helper(x)
  private def helper(x: Int): Int = chained(x)
  def chained(x: Int): Int = x
  def benchOnly(): Int = 0
  def commentOnly(): Int = 1
  def deadRoot(): Int = deadLeaf()
  def deadLeaf(): Int = 2
  /** Reference the spec compares against.
    *
    * Kept: the fixed reference of a retained spec. */
  def keptRef(): Int = 3
  private[ops] def fixture(): Int = 4
  /** braces in literals must not shift member bounds: '{' "}" */
  def afterLiterals(): Int = 5
}
object Other {
  def used(x: Int): Int = x // same name as Ops.used, never called
}
""",
    "src/main/scala/graft/functions/Fns.scala": """
package graft.functions
case class LiveExpr(child: Int) extends UnaryExpression {
  override def eval(): Int = child
}
case class DeadExpr(child: Int) extends UnaryExpression {
  override def eval(): Int = child
}
class Hook extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = Fns.hookOnly()
}
object Fns {
  def wrap(x: Int): Int = LiveExpr(x).eval()
  def deadWrap(x: Int): Int = DeadExpr(x).eval()
  def hookOnly(): Unit = ()
}
""",
}

EXPECT_LISTED = {"Ops.commentOnly", "Ops.deadRoot", "Ops.deadLeaf",
                 "Ops.afterLiterals", "Other.used", "Other", "DeadExpr",
                 "Fns.deadWrap"}
EXPECT_QUIET = {"Ops.used", "Ops.chained", "Ops.benchOnly", "Ops.keptRef",
                "Ops.fixture", "LiveExpr", "Fns.wrap", "Hook", "Fns.hookOnly",
                "Ops", "Fns"}


def run():
    with tempfile.TemporaryDirectory() as root:
        for rel, text in FILES.items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
        listed = {m.label() for m in ur.scan(root) if m.public and not m.kept}
    fails = 0
    for name in sorted(EXPECT_LISTED):
        if name in listed:
            print(f"SELFTEST OK: {name} listed")
        else:
            print(f"SELFTEST FAIL: unreached {name} not listed")
            fails += 1
    for name in sorted(EXPECT_QUIET):
        if name in listed:
            print(f"SELFTEST FAIL: {name} listed but is reached, kept or a fixture")
            fails += 1
        else:
            print(f"SELFTEST OK: {name} not listed")
    extra = listed - EXPECT_LISTED - EXPECT_QUIET
    if extra:
        print(f"SELFTEST FAIL: unexpected members listed: {sorted(extra)}")
        fails += 1
    print("SELFTEST:", "FAIL" if fails else "PASS")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    run()
