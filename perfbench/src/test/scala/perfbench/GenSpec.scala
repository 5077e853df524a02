package perfbench

import graft.annotate.Annotator

class GenSpec extends BenchSuite {

  private def docs(name: String, seed: Long) = {
    val w = Workloads(name, spark, seed, cores, work.resolve(s"$name-$seed"), scale = 0.05)
    val dir = work.resolve(s"$name-$seed-input")
    w.setup(dir)
    val path = if (name == "durable-zipf") dir.resolve("documents.parquet") else dir
    spark.read.parquet(path.toString).orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  test("each generator is deterministic per seed") {
    for (name <- Workloads.names) {
      val a = docs(name, 7)
      assert(a.nonEmpty)
      assert(a == docs(name, 7), s"$name: same seed, different docs")
      assert(a != docs(name, 8), s"$name: different seeds, same docs")
    }
  }

  test("zipf surfaces and their plurals are nouns; the head carries its share") {
    val z = Gen.zipf(3, 2000)
    assert(z.surfaces.distinct.length == 2000)
    assert(z.surfaces.forall(s => Annotator.posOf(s) == "NOUN" && Annotator.posOf(s + "s") == "NOUN"))
    val words = (0L until 2000L).flatMap(id => Gen.zipfDoc(3, z, id).split(" "))
    val nouns = words.filter(w => Annotator.posOf(w) == "NOUN")
    assert(nouns.length == words.count(w => !z.filler.contains(w)))
    val head = nouns.count(w => w == z.surfaces(0) || w == z.surfaces(0) + "s").toDouble / nouns.length
    assert(math.abs(head - z.headShare) < 0.02, s"head share $head")
  }

  test("heaps copies rename spark and table per copy") {
    val base = "spark table join table"
    assert(Gen.heapsText(base, 0) == "spark0 table0s join table0s")
    assert(Gen.heapsText(base, 3) == "spark3 table1 join table1")
  }
}
