package graft.text

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

class TokenizerIOSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def tmp(p: String): String =
    tempDir(p).toString

  test("BPE merge table round-trips in learned order; encode is identical") {
    val d = Tables.documents(spark, sfDir)
    val merges = Bpe.learnMerges(Bpe.initVocab(d, col("text")), 6)
      .map(m => (m._1, m._2))
    val dir = tmp("graft_tok_bpe")
    TokenizerIO.saveMerges(spark, dir, merges)
    val loaded = TokenizerIO.loadMerges(spark, dir)
    assert(loaded === merges)
    // the artifact drives encode identically to the in-memory model
    val a = d.select(col("doc_id"), Bpe.applyMerges(col("text"), merges).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = d.select(col("doc_id"), Bpe.applyMerges(col("text"), loaded).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a === b)
  }

  test("byte-BPE merges round-trip under their own family tag") {
    val d = Tables.documents(spark, sfDir)
    val merges = Bpe.learnMerges(Bpe.initByteVocab(d, col("text")), 4)
      .map(m => (m._1, m._2))
    val dir = tmp("graft_tok_bbpe")
    TokenizerIO.saveMerges(spark, dir, merges, TokenizerIO.FamilyByteBpe)
    assert(TokenizerIO.loadMerges(spark, dir, TokenizerIO.FamilyByteBpe) === merges)
  }

  test("WordPiece vocabulary round-trips; reloaded encode is identical") {
    val d = Tables.documents(spark, sfDir)
    val v0 = WordPiece.initVocab(d, col("text"))
    val vocab = WordPiece.vocabulary(v0, WordPiece.learnMerges(v0, 6))
    val dir = tmp("graft_tok_wp")
    TokenizerIO.saveWordPiece(spark, dir, vocab)
    val loaded = TokenizerIO.loadWordPiece(spark, dir)
    assert(loaded.toSet === vocab.toSet)
    val a = d.select(WordPiece.encode(col("text"), vocab).as("p"))
      .collect().map(_.getSeq[String](0))
    val b = d.select(WordPiece.encode(col("text"), loaded).as("p"))
      .collect().map(_.getSeq[String](0))
    assert(a === b)
  }

  test("unigram scored vocab round-trips as a frame; encode agrees") {
    val d = Tables.documents(spark, sfDir)
    val scores = UnigramLm.train(d, col("text"))
    val dir = tmp("graft_tok_uni")
    TokenizerIO.saveUnigram(scores, dir)
    val loaded = TokenizerIO.loadUnigram(spark, dir)
    assert(loaded.orderBy("piece").as[(String, Long)].collect().toSeq ===
      scores.orderBy("piece").as[(String, Long)].collect().toSeq)
    val a = UnigramLm.encode(d, col("doc_id"), col("text"), scores)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val b = UnigramLm.encode(d, col("doc_id"), col("text"), loaded)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("a wrong-family load fails loudly instead of misreading the model") {
    val dir = tmp("graft_tok_fam")
    TokenizerIO.saveMerges(spark, dir, Seq(("a", "b")))
    val e = intercept[IllegalArgumentException] {
      TokenizerIO.loadWordPiece(spark, dir)
    }
    assert(e.getMessage.contains("family"))
  }
}
