package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Scale10

/** The affine-cipher letter-permutation family behind the ×N scale
  * inflations (`tools/Scale10.permutation`). The exponents in
  * SCALE10/SCALE30 are only meaningful if the copies are genuinely
  * disjoint shards, so the disjointness properties are pinned here:
  * identity at k=0, PURE ROTATIONS for k ≤ 25 (pairwise composed maps
  * fix zero letters — the enumeration-order fix: the multiplier-first
  * order shared the fixed letters 'a'/'n', hence the words "a"/"an",
  * across every copy of a ×10 run), all 312 members distinct, and the
  * affine ≤2-fixed-letter bound for the post-rotation tail.
  */
class Scale10PermSpec extends AnyFunSuite {

  private def lowerMap(k: Int): String = {
    val (_, to) = Scale10.permutation(k)
    to.substring(0, 26)
  }

  test("copy 0 is the identity") {
    assert(lowerMap(0) == "abcdefghijklmnopqrstuvwxyz")
  }

  test("copies 1..25 are rotations: zero shared letters pairwise") {
    // rot_j . rot_k^-1 is itself a nonzero rotation, which fixes no
    // letter — so any two of the first 26 copies disagree at EVERY
    // position, and no token of any length is verbatim-shared
    val maps = (0 to 25).map(lowerMap)
    for (j <- 0 to 25; k <- 0 until j)
      assert((0 until 26).forall(i => maps(j)(i) != maps(k)(i)),
        s"copies $j and $k share a letter image")
  }

  test("all 312 family members are distinct permutations") {
    val all = (0 until 312).map(lowerMap)
    assert(all.distinct.size == 312)
    all.foreach(m => assert(m.toSeq.distinct.size == 26, s"not a bijection: $m"))
  }

  test("any two copies agree on at most 2 letters (affine bound)") {
    // gcd(a_j·a_k^-1 − 1, 26) ≤ 2 fixed points for composed affine
    // maps — the honest weakening past the rotation family, paid only
    // from copy 26 on
    val all = (0 until 312).map(lowerMap)
    for (j <- 0 until 312; k <- 0 until j) {
      val shared = (0 until 26).count(i => all(j)(i) == all(k)(i))
      assert(shared <= 2, s"copies $j,$k share $shared letter images")
    }
  }

  private def digitMap(k: Int): String = Scale10.digitPermutation(k)._2

  test("digit family: identity at 0, all 40 members distinct bijections") {
    assert(digitMap(0) == "0123456789")
    val all = (0 until 40).map(digitMap)
    assert(all.distinct.size == 40)
    all.foreach(m =>
      assert(m.toSeq.distinct.size == 10, s"not a bijection: $m"))
  }

  test("digit family: first 10 copies are rotations, disjoint pairwise") {
    // the cross-copy letter-free-doc artifact (67% of the ×10 pair
    // table, ProbePairGrowth at commit c8aa06f) needs the SMALL copy
    // counts to be fully
    // digit-disjoint; shift-first enumeration gives rotations for
    // k <= 9, which disagree at every digit position
    val maps = (0 to 9).map(digitMap)
    for (j <- 0 to 9; k <- 0 until j)
      assert((0 until 10).forall(i => maps(j)(i) != maps(k)(i)),
        s"copies $j and $k share a digit image")
  }

  test("digit family wraps at 40: k and k+40 share the digit map") {
    // documented residual: past x40, letter-free docs duplicate across
    // ceil(n/40)-copy groups — bounded, stated in the scaladoc
    assert(digitMap(3) == digitMap(43))
  }

  test("full translate source covers letters then digits, same length") {
    val (from, to) = Scale10.permutation(7)
    assert(from.length == to.length)
    assert(from.endsWith("0123456789"))
    assert(from.startsWith("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"))
  }
}
