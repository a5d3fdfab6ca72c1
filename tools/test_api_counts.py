#!/usr/bin/env python3
"""Self-test for tools/api_counts.py over a small synthetic source tree
(no build needed): comments and strings never count, only direct public
members of an object body count as its public defs, every
default-valued parameter of a def/class header counts once, and only
literal conf/env keys are reported.

Run: python3 tools/test_api_counts.py   (exit 0 = all behaviors correct)
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import api_counts  # noqa: E402

MAIN = '''package p

/** A doc comment: def fake(x: Int = 1) and conf.get("doc.key") */
object Ops extends Serializable
    with Product {
  // def commented(y: Int = 2)
  /* block /* nested */ def alsoCommented(z: Int = 3) */
  def a(x: Int, y: Int = 1)(z: String = "}{"): Int = x
  private def b(f: Int => Int = identity, g: Int = 0): Int = f(g)
  private[p] def c(): Unit = ()
  protected def d(): Unit = ()
  override def toString: String = "def inString(q: Int = 9) {"
  def e[T](xs: Seq[T] = Seq.empty[T], n: Int = math.max(1, 2)): Int = {
    def local(k: Int = 5): Int = k
    local()
  }
  def cmp(a: Int, b: Int): Boolean = a >= b && a <= b && a != b && a == b
  val ch = '{'
  val esc = '\\''
  val uni = '\\u007b'
  class Inner(v: Int = 7) { def innerDef(): Int = v }
  val anon = new Runnable { def run(): Unit = () }
  object Nested {
    def n1(): Unit = ()
  }
  def keys(spark: Any): Unit = {
    spark.conf.set("spark.a", "1")
    spark.conf.get("spark.a")
    df.option("path", "/x").option( "mode", "cdc")
    sys.env.get("ENV_A"); sys.env.getOrElse("ENV_B", "d")
    System.getenv("ENV_A")
    val k = "spark.notAKey"
    spark.conf.get(k)
  }
}

case class Row(id: Long, name: String = "n",
    tags: Map[String, Int] = Map("a" -> 1))
'''

TEST = '''package p
object OpsSpec { def t(x: Int = 1): Int = x }
'''


def run():
    with tempfile.TemporaryDirectory() as root:
        for rel, text in (("src/main/scala/p/Ops.scala", MAIN),
                          ("src/test/scala/p/OpsSpec.scala", TEST)):
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path))
            with open(path, "w") as fh:
                fh.write(text)
        res = api_counts.counts(root)
    fails = []

    def check(name, got, want):
        if got != want:
            fails.append(f"{name}: got {got!r}, want {want!r}")

    check("main lines", res["main_lines"], MAIN.count("\n"))
    check("test lines", res["test_lines"], TEST.count("\n"))
    # a: y, z; b: f, g; e: xs, n; local: k; Inner: v; Row: name, tags.
    # Test sources never count.
    check("defaults", res["defaults"], 10)
    # Ops: a, toString, e, cmp, keys (not b/c/d private|protected, not
    # local, innerDef, run, nor the commented/string ones); Nested: n1
    check("public defs", dict(res["public_defs"]), {"Ops": 5, "Nested": 1})
    check("conf keys", dict(res["conf"]),
          {"spark.a": 2, "path": 1, "mode": 1})
    check("env keys", dict(res["env"]), {"ENV_A": 2, "ENV_B": 1})
    report = api_counts.report(res)
    check("report header", report.splitlines()[2],
          "default-valued parameters (src/main): 10")
    for f in fails:
        print("FAIL", f)
    print("OK" if not fails else f"{len(fails)} failure(s)")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(run())
