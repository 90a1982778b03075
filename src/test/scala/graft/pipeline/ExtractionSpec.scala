package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExtractionSpec extends SparkSpec {

  test("MockLLM deterministic answers") {
    val llm = new MockLLM
    val p = LLM.assemblePrompt("count of word 'batch'", lit("x")).toString
    assert(llm.complete("count of word 'batch'\nContext:\nbatch a batch\nAnswer:") == "2")
    assert(llm.complete("does it mention 'spark'\nContext:\nno sp here\nAnswer:") == "no")
    assert(llm.complete("first word\nContext:\n hello world\nAnswer:") == "hello")
    assert(llm.complete("unknown question\nContext:\nabc\nAnswer:") == "NA")
  }

  test("extract end-to-end with mock LLM: typed columns") {
    import spark.implicits._
    val df = Seq(
      (1L, "batch job batch run spark"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val specs = Seq(
      PromptSpec("n_batch", "count of word 'batch'", "number"),
      PromptSpec("has_spark", "does it mention 'spark'", "boolean"),
      PromptSpec("first", "first word", "text"),
      PromptSpec("missing", "what is the invoice date?", "date"))
    val out = Extraction.extract(df, "text", specs, () => new MockLLM)
      .orderBy("doc_id").collect()

    assert(out(0).getAs[Double]("n_batch") == 2.0)
    assert(out(0).getAs[Boolean]("has_spark"))
    assert(out(0).getAs[String]("first") == "batch")
    assert(out(0).isNullAt(out(0).fieldIndex("missing"))) // "NA" -> null
    assert(out(1).getAs[Double]("n_batch") == 0.0)
    assert(!out(1).getAs[Boolean]("has_spark"))
  }

  test("F11 grammar notes: per-word synonym block injected into the prompt") {
    import spark.implicits._
    // reference shape: _build_grammar_notes (answer_prompt.py:175-190)
    val rules = Seq(
      LLM.GrammarRule("invoice", Seq("bill", "receipt")),
      LLM.GrammarRule("", Seq("ignored")),          // no word → skipped
      LLM.GrammarRule("total", Nil),                // no synonyms → skipped
      LLM.GrammarRule("vendor", Seq("supplier")))
    val notes = LLM.grammarNotes(rules)
    assert(notes ===
      "Note: You can consider that the word 'invoice' is the same as " +
        "bill, receipt in both the question and the context.\n" +
        "Note: You can consider that the word 'vendor' is the same as " +
        "supplier in both the question and the context.")
    assert(LLM.grammarNotes(Nil) === "")

    // assembled prompt carries the block between question and context
    val prompt = Seq("ctx").toDF("t")
      .select(LLM.assemblePrompt("what is the invoice total?", col("t"),
        grammar = rules).as("p"))
      .as[String].collect().head
    assert(prompt.contains("what is the invoice total?\nNote: You can consider"))
    assert(prompt.indexOf("'invoice'") < prompt.indexOf("Context:"))
    // and a grammar-free prompt is unchanged — no stray blank note line
    val bare = Seq("ctx").toDF("t")
      .select(LLM.assemblePrompt("q", col("t")).as("p")).as[String].collect().head
    assert(!bare.contains("Note:"))

    // end-to-end: the note block rides along without breaking extraction
    val df = Seq((1L, "batch batch")).toDF("doc_id", "text")
    val out = Extraction.extract(df, "text",
      Seq(PromptSpec("n_batch", "count of word 'batch'", "number",
        grammar = Seq(LLM.GrammarRule("batch", Seq("lot"))))),
      () => new MockLLM).collect().head
    assert(out.getAs[Double]("n_batch") == 2.0)
  }

  test("convert: NA sanitize + try-cast semantics") {
    import spark.implicits._
    val df = Seq("12.5", "NA", "not a number").toDF("a")
    val got = df.select(Extraction.convert(col("a"), "number").as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(got.toSeq == Seq(12.5, null, null))

    val dates = Seq("2024-03-05", "NA", "garbage").toDF("a")
      .select(Extraction.convert(col("a"), "date").as("v"))
      .collect().map(r => Option(r.get(0)).map(_.toString).orNull)
    assert(dates.toSeq == Seq("2024-03-05", null, null))

    val emails = Seq("a@b.com", "nope", "NA").toDF("a")
      .select(Extraction.convert(col("a"), "email").as("v"))
      .collect().map(r => Option(r.get(0)).map(_.toString).orNull)
    assert(emails.toSeq == Seq("a@b.com", null, null))
  }

  test("OpenAI protocol: full typed-extraction chain through the canned chat-completions server") {
    import spark.implicits._
    val pt = spark.sparkContext.longAccumulator("oa_pt")
    val ct = spark.sparkContext.longAccumulator("oa_ct")
    val df = Seq(
      (1L, "batch job batch run spark"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val specs = Seq(
      PromptSpec("n_batch", "count of word 'batch'", "number"),
      PromptSpec("has_spark", "does it mention 'spark'", "boolean"),
      PromptSpec("first", "first word", "text"),
      PromptSpec("missing", "what is the invoice date?", "date"))
    val out = Extraction.extract(df, "text", specs,
      () => new OpenAIChatClient(ExtractionSpec.oaBase, "sk-good", "test-model",
        () => ExtractionSpec.openAIServer(), systemPrompt = "You extract fields.",
        sleeper = _ => (), promptTokens = Some(pt), completionTokens = Some(ct)))
      .orderBy("doc_id").collect()
    // same typed results as the direct MockLLM path — the protocol layer
    // is transparent to D10-D14
    assert(out(0).getAs[Double]("n_batch") == 2.0)
    assert(out(0).getAs[Boolean]("has_spark"))
    assert(out(0).getAs[String]("first") == "batch")
    assert(out(0).isNullAt(out(0).fieldIndex("missing")))
    assert(out(1).getAs[Double]("n_batch") == 0.0)
    // provider-reported usage flowed into the accumulators (8 calls)
    assert(pt.value > 0 && ct.value == 8L)
  }

  test("OpenAI protocol: retryable statuses back off and recover; terminal errors and refusals throw") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val c = new OpenAIChatClient(ExtractionSpec.oaBase, "sk-good", "test-model",
      () => ExtractionSpec.openAIServer(flaky429 = 2), maxRetries = 3,
      sleeper = sleeps.append(_))
    assert(c.complete("first word\nContext:\nhello there\nAnswer:") == "hello")
    assert(sleeps.toSeq == Seq(1000L, 2000L)) // exponential, reference schedule
    // exhausted retries surface the provider error
    val stuck = new OpenAIChatClient(ExtractionSpec.oaBase, "sk-good", "m",
      () => ExtractionSpec.openAIServer(flaky429 = 99), maxRetries = 2,
      sleeper = _ => ())
    intercept[IllegalStateException](stuck.complete("q\nContext:\nx\nAnswer:"))
    // 401 is terminal — one attempt, no retry loop
    val bad = new OpenAIChatClient(ExtractionSpec.oaBase, "sk-wrong", "m",
      () => ExtractionSpec.openAIServer(), sleeper = _ => ())
    val e = intercept[IllegalStateException](bad.complete("q\nContext:\nx\nAnswer:"))
    assert(e.getMessage.contains("HTTP 401"))
    // null content (refusal) is an error, not a silent null row
    val refuser = new OpenAIChatClient(ExtractionSpec.oaBase, "sk-good", "m",
      () => ExtractionSpec.openAIServer(), sleeper = _ => ())
    intercept[IllegalStateException](
      refuser.complete("REFUSE\nContext:\nx\nAnswer:"))
  }

  test("OpenAI vision completion: text + data-URL image parts round-trip (complete_vision shape)") {
    val c = new OpenAIChatClient(ExtractionSpec.oaBase, "sk-good", "vision-model",
      () => ExtractionSpec.openAIServer(), sleeper = _ => ())
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 1, 2, 3)
    val out = c.completeVision("what is pictured?", png)
    // the canned server answers with what it DECODED from the data URL
    assert(out == s"VISION:what is pictured?:image/png:${png.length}")
    assert(c.completeVision("q", Array[Byte](1, 2), "image/jpeg")
      == "VISION:q:image/jpeg:2")
  }

  test("OpenAI embeddings: batch order restored from permuted index; UDF plumbing distributes") {
    import spark.implicits._
    val c = new OpenAIEmbeddingClient(ExtractionSpec.oaBase, "sk-good",
      "embed-model", () => ExtractionSpec.openAIServer(), sleeper = _ => ())
    val vecs = c.embed(Seq("alpha", "bz"))
    // canned vector = [len, first byte] — and the server PERMUTES data
    // rows, so correct results prove index-keyed reordering
    assert(vecs(0).toSeq == Seq(5f, 'a'.toFloat))
    assert(vecs(1).toSeq == Seq(2f, 'b'.toFloat))
    assert(c.embed(Nil).isEmpty)
    val out = Seq("alpha", "bz").toDF("t")
      .select(OpenAIEmbedding.embedUdf(() =>
        new OpenAIEmbeddingClient(ExtractionSpec.oaBase, "sk-good", "m",
          () => ExtractionSpec.openAIServer(), sleeper = _ => ()))(col("t")).as("e"))
      .collect().map(_.getSeq[Float](0).head)
    assert(out.toSeq == Seq(5f, 2f))
  }

  test("RetryingLLM retries transient failures and counts usage") {
    val pt = spark.sparkContext.longAccumulator("pt")
    val ct = spark.sparkContext.longAccumulator("ct")
    var calls = 0
    val flaky = new LLMClient {
      override def complete(p: String): String = {
        calls += 1
        if (calls < 3) throw new RuntimeException("transient")
        "ok answer"
      }
    }
    val r = new RetryingLLM(flaky, maxAttempts = 5, Some(pt), Some(ct))
    assert(r.complete("two tokens") == "ok answer")
    assert(calls == 3)
    assert(pt.value == 2L && ct.value == 2L)
  }

  test("RetryingLLM is bounded: null-returning client fails, never spins") {
    var calls = 0
    val nullClient = new LLMClient {
      override def complete(p: String): String = { calls += 1; null }
    }
    val r = new RetryingLLM(nullClient, maxAttempts = 3)
    intercept[IllegalStateException](r.complete("q"))
    assert(calls == 3)
  }

  test("RetryingLLM surfaces the final exception after exhausting attempts") {
    var calls = 0
    val broken = new LLMClient {
      override def complete(p: String): String = {
        calls += 1; throw new RuntimeException(s"down $calls")
      }
    }
    val r = new RetryingLLM(broken, maxAttempts = 4)
    val e = intercept[RuntimeException](r.complete("q"))
    assert(e.getMessage == "down 4")
    assert(calls == 4)
  }

  test("countTokens counts what trim + split on \\s+ counts (property)") {
    import org.scalacheck.Gen
    val client = new MockLLM
    def bySplit(s: String): Long =
      if (s == null || s.trim.isEmpty) 0L else s.trim.split("\\s+").length.toLong
    // among plain letters: whitespace, control characters <= U+0020 that
    // are not \s, U+00A0, U+2003 and surrogate halves
    val char = Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\u000b', '\f', '\r'),
      1 -> Gen.oneOf('\u0000', '\u0001', '\u001c', '\u001f'),
      1 -> Gen.oneOf('\u00a0', '\u2003', '\ud83d', '\ude00'))
    forAll(Gen.listOf(char).map(_.mkString)) { s =>
      assert(client.countTokens(s) == bySplit(s), s"for ${s.map(_.toInt)}")
    }
    val fixed = Seq(null, "", "   ", "\t\n", "\u0001", "\u0001 a", "a\u0001b", "a \u0001 b",
      "\u00a0", "a\u00a0b", " a  b\tc\n", "one")
    fixed.foreach(s => assert(client.countTokens(s) == bySplit(s), s"for $s"))
    assert(client.countTokens("\u0001 a") == 1L && client.countTokens("a\u0001b") == 1L)
    assert(client.countTokens("\u00a0") == 1L) // not trimmed, not \s
  }
}

/** Canned OpenAI-compatible provider on the companion object (client
  * factories ship to executors). The "server" answers chat requests
  * with a server-side MockLLM, so the protocol layer is the only thing
  * under test; embeddings return [len, firstByte] with the data rows
  * deliberately permuted. */
object ExtractionSpec {
  val oaBase = "https://llm.example.com"

  def openAIServer(flaky429: Int = 0): graft.tools.CannedTransport = {
    import graft.tools.{HttpResponse => R}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fails = new java.util.concurrent.atomic.AtomicInteger(flaky429)
    val mock = new MockLLM
    new graft.tools.CannedTransport({ (method, url, headers, body) =>
      if (headers.get("Authorization") != Some("Bearer sk-good"))
        R.status(401, """{"error":{"message":"invalid api key"}}""")
      else if (fails.getAndDecrement() > 0)
        R.status(429, """{"error":{"message":"rate limited"}}""")
      else if (method == "POST" && url == s"$oaBase/v1/chat/completions") {
        val req = mapper.readTree(body)
        val msgs = req.path("messages")
        val userNode = (0 until msgs.size()).map(msgs.get)
          .find(_.path("role").asText() == "user")
          .map(_.path("content")).getOrElse(mapper.missingNode())
        val user = if (userNode.isTextual) userNode.asText() else ""
        // multimodal content parts: answer with what the server SAW —
        // proving the image bytes and mime round-tripped the data URL
        if (userNode.isArray) {
          val parts = (0 until userNode.size()).map(userNode.get)
          val text = parts.find(_.path("type").asText() == "text")
            .map(_.path("text").asText()).getOrElse("")
          val dataUrl = parts.find(_.path("type").asText() == "image_url")
            .map(_.path("image_url").path("url").asText()).getOrElse("")
          val Array(head, b64) = dataUrl.split(",", 2)
          val mime = head.stripPrefix("data:").stripSuffix(";base64")
          val n = java.util.Base64.getDecoder.decode(b64).length
          R.ok(s"""{"choices":[{"message":{"role":"assistant","content":"VISION:$text:$mime:$n"},"finish_reason":"stop"}],"usage":{"prompt_tokens":7,"completion_tokens":1}}""")
        } else if (user.startsWith("REFUSE"))
          R.ok("""{"choices":[{"message":{"role":"assistant","content":null},"finish_reason":"content_filter"}],"usage":{"prompt_tokens":3,"completion_tokens":0}}""")
        else {
          val answer = mock.complete(user)
          val node = mapper.createObjectNode()
          val choice = node.putArray("choices").addObject()
          choice.putObject("message")
            .put("role", "assistant").put("content", answer)
          choice.put("finish_reason", "stop")
          node.putObject("usage")
            .put("prompt_tokens", user.split("\\s+").length)
            .put("completion_tokens", 1)
          R.ok(mapper.writeValueAsString(node))
        }
      } else if (method == "POST" && url == s"$oaBase/v1/embeddings") {
        val req = mapper.readTree(body)
        val in = req.path("input")
        val node = mapper.createObjectNode()
        val data = node.putArray("data")
        // permuted on purpose: clients must key on `index`
        (in.size() - 1 to 0 by -1).foreach { i =>
          val t = in.get(i).asText()
          val row = data.addObject()
          row.put("index", i)
          val e = row.putArray("embedding")
          e.add(t.length.toFloat)
          e.add(if (t.isEmpty) 0f else t.charAt(0).toFloat)
        }
        node.putObject("usage").put("total_tokens", in.size())
        R.ok(mapper.writeValueAsString(node))
      } else R.status(404, url)
    })
  }
}
