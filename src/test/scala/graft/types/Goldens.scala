package graft.types

import JValue._

/** Canonical example expressions shared by the merge/simplify suites,
  * ported from the reference's test corpus
  * (merge_test.clj:40-101, simplify_test.clj:36-98).
  */
object Goldens {
  val dateFormatPattern = "yyyy-MM-dd"

  def mergeExtract(v: JValue): SchemaType =
    twinExtract(new TypeExtractor(StrictMerge, Seq(dateFormatPattern)), v)
  def simplifyExtract(v: JValue): SchemaType =
    twinExtract(new TypeExtractor(SimplifyMerge, Seq(dateFormatPattern)), v)

  /** `ex.extract(v)`, after checking the token walk against its tree twin
    * on `{"v": v}` as a JSON line (ExtractLineSpec.twin).
    */
  def twinExtract(ex: TypeExtractor, v: JValue): SchemaType = {
    ExtractLineSpec.twin(ex, graft.json.JsonRender.compact(obj("v" -> v)))
    ex.extract(v)
  }

  // scalar-expressions [nil true "Hello" 6 "2013-01-01" 3.14]
  val scalarTypes: Map[String, SchemaType] = Map(
    "null" -> NullT,
    "bool" -> BoolT,
    "str"  -> StrT(5, 5),
    "int"  -> IntT(6, 6),
    "date" -> DateT(Set(dateFormatPattern)),
    "real" -> RealT(3.14, 3.14)
  )

  // collection-expressions (merge_test.clj:60-69)
  val collectionExpressions: Map[String, JArr] = Map(
    "empty"  -> arr(),
    "single" -> arr("string", "string", "string", "string"),
    "mixed"  -> arr(JNull, true, "Hello", 6, "2013-01-01", 10.209),
    "nested" -> arr(arr(1, 2, 3), arr(4, 5, 6, 7), arr(8, 9, 2)),
    "mixed-nested" -> arr(
      arr("string", "string", "string", "string"),
      arr(8, 9, 2),
      arr(JNull, JNull)),
    "nested-mixed" -> arr(
      arr(1, "str", JNull), arr(1, "str", JNull), arr(1, "str", JNull)),
    "mixed-nested-mixed" -> arr(
      arr(1, "str", JNull), arr(1, "str"), arr("2013-01-01", "str", JNull)),
    "empty-nested" -> arr(
      arr(arr(), arr(), arr()),
      arr(arr(), arr()),
      arr(arr(), 5, arr()))
  )

  // document-expressions (merge_test.clj:89-101); :name field included
  val documentExpressions: Map[String, JObj] = Map(
    "scalars" -> obj("name" -> "scalars", "a" -> "simple", "b" -> JNull,
      "c" -> 25, "d" -> true, "e" -> "2013-01-01", "f" -> 10.4),
    "flat-collection" -> obj("name" -> "flat-collection",
      "a" -> arr("item1", "item2", "item3")),
    "flat-mixed-collection" -> obj("name" -> "flat-mixed-collection",
      "a" -> arr("item1", 25, JNull, 10.4)),
    "flat-nested-collection" -> obj("name" -> "flat-nested-collection",
      "a" -> arr(34, 25, 46, arr("2013-01-01", "2013-01-02"))),
    "flat-nested-mixed-collection" -> obj(
      "name" -> "flat-nested-mixed-collection",
      "a" -> arr(34, 25, 46, arr("2013-01-01", "2013-01-02", "hello"))),
    "subdoc" -> obj("name" -> "subdoc",
      "a" -> obj("a-collection" -> arr("item1", "item2", "item3", "longer-item"))),
    "coll-subdoc" -> obj("name" -> "coll-subdoc",
      "a" -> arr(
        obj("a" -> arr("item1", "item2", "item3")),
        obj("a" -> arr(1, 2, 3)),
        obj("a" -> arr(4, 5, 6)),
        obj("a" -> arr(7, 8, JNull)),
        obj("a" -> arr(1, 2, 3), "b" -> "not-a-collection")))
  )

  def str(n: Int): StrT = StrT(n, n)
  def date: DateT = DateT(Set(dateFormatPattern))
  def int(mn: Int, mx: Int): IntT = IntT(mn, mx)
  def union(ts: SchemaType*): UnionT = UnionT(ts.toSet)
  def coll(t: SchemaType): CollT = CollT.of(t)
  def doc(fs: (String, SchemaType)*): DocT = DocT(fs.toMap)
}
