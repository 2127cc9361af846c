package graft.query

import org.scalatest.funsuite.AnyFunSuite

/** `remove()` detaches every node first and renumbers each touched parent
  * once. The tree it leaves must be the one a fresh parse of the expected
  * HTML builds: child indexes equal positions, and positional selectors
  * and document order read the same. */
class BatchRemoveSpec extends AnyFunSuite {
  private def load(html: String): Elems = Vis.load(html).fold(e => fail(e), identity)

  private def assertIndexesArePositions(doc: VDoc): Unit = {
    val a = doc.arena
    def rec(p: Int): Unit = {
      var c = a.firstChild(p)
      var i = 0
      while (c >= 0) {
        assert(a.nodeIdx(c) == i, s"node $c under $p has index ${a.nodeIdx(c)}, position $i")
        rec(c)
        c = a.nextSib(c); i += 1
      }
    }
    rec(0)
  }

  private def assertSameTree(got: Elems, want: Elems): Unit = {
    assertIndexesArePositions(got.doc)
    assert(got.doc.sourceCode == want.doc.sourceCode)
    for (s <- Seq("li:nth-child(2n)", "li:nth-child(3n+1)", "li:nth-last-child(5)", "li", "b, li:first-child"))
      assert(got.find(s).outerHtmls() == want.find(s).outerHtmls(), s)
    val gotLis = got.find("li").ids.toSeq
    assert(gotLis == Engine.sortAndUnique(got.doc.arena,
      scala.collection.mutable.ArrayBuffer.from(gotLis.reverse)).toSeq, "document order")
  }

  test("removing every other of 20,000 children leaves the tree of a fresh parse") {
    val n = 20000
    val root = load("<ul>" + (0 until n).map(i => s"<li>$i</li>").mkString + "</ul>")
    val lis = root.find("ul").children("")
    new Elems(root.doc, lis.ids.indices.filter(_ % 2 == 1).map(lis.ids(_)).toArray).remove()
    val want = load("<ul>" + (0 until n by 2).map(i => s"<li>$i</li>").mkString + "</ul>")
    assertSameTree(root, want)
  }

  test("one remove() across parents, nested members and repeats") {
    val html = "<div>" + (0 until 40).map(i => s"<ul><li>$i</li><b>x$i</b><li>y$i</li></ul>").mkString + "</div>"
    val root = load(html)
    val doomed = root.find("b, ul:nth-child(3n) li:first-child, ul:nth-child(7n)")
    new Elems(root.doc, doomed.ids ++ doomed.ids.reverse).remove()
    val want = load("<div>" + (0 until 40).map { i =>
      val pos = i + 1
      if (pos % 7 == 0) ""
      else if (pos % 3 == 0) s"<ul><li>y$i</li></ul>"
      else s"<ul><li>$i</li><li>y$i</li></ul>"
    }.mkString + "</div>")
    assertSameTree(root, want)
  }

  test("text-set remove() renumbers each parent once") {
    val root = load("<p>" + (0 until 500).map(i => s"t$i<br>").mkString + "</p>")
    val texts = root.find("p").texts(0)
    texts.filterBy((i, _) => i % 2 == 0).remove()
    val want = load("<p>" + (0 until 500).map(i => if (i % 2 == 0) "<br>" else s"t$i<br>").mkString + "</p>")
    assertIndexesArePositions(root.doc)
    assert(root.doc.sourceCode == want.doc.sourceCode)
    assert(root.find("br:nth-child(2n)").length == want.find("br:nth-child(2n)").length)
    assert(root.find("p").text() == want.find("p").text())
  }
}
