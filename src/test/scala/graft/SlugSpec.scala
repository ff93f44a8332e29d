package graft

import graft.util.Slug
import org.scalatest.funsuite.AnyFunSuite

/** Artifact slugs: `/tmp/graft_*` dirs and catalog tables are named by
  * [[Slug]], so two dataset dirs must never share one. */
class SlugSpec extends AnyFunSuite {

  test("dirs that differ only in punctuation or case get different slugs") {
    val pairs = Seq("/a/b" -> "/a_b", "/a.b" -> "/a-b", "/d/sf0.1" -> "/d/sf0_1",
      "/x y" -> "/x_y", "/data/SF" -> "/data/sf")
    for ((a, b) <- pairs) {
      // catalog table names are case-insensitive: compare lowercased
      assert(Slug(a).toLowerCase != Slug(b).toLowerCase, s"$a vs $b")
    }
  }

  test("the same dir always gets the same slug, a valid identifier") {
    for (d <- Seq("/root/testdata/sf0.01", "/a/b", "", "/ü/ä"))
      assert(Slug(d) == Slug(new String(d.toCharArray)))
    assert(Slug("/a/b").matches("[A-Za-z0-9_]+"))
    assert(Slug("/root/testdata/sf0.01").startsWith("_root_testdata_sf0_01_"))
  }
}
