"""CLI parity tests (reference EP1): dry-run has NO side effects (the
reference's fall-through bug is fixed), TOML config is honored, search
returns ranked neighbors."""

from __future__ import annotations

import os

from vectrekker_spark.cli import main


def _write_corpus(tmp_path):
    content = tmp_path / "content"
    content.mkdir()
    (content / "a.md").write_text("alpha notes about vectors and engines")
    (content / "b.md").write_text("beta notes about streams and windows")
    (content / "c.txt").write_text("ignored")
    return content


def test_dry_run_no_side_effects(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    rc = main([
        "index", "--content-dir", str(content),
        "--state", state, "--index", index, "--dry-run",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "2 file(s) would be re-indexed" in out
    assert not os.path.exists(index) and not os.path.exists(state)  # no side effects


def test_dry_run_honors_max_changed(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    rc = main([
        "index", "--content-dir", str(content),
        "--state", state, "--index", index, "--dry-run", "--max-changed", "1",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    # the listing matches the next capped run: 1 sliced file, 2 backlog
    assert "1 file(s) would be re-indexed (--max-changed 1; total backlog 2)" in out
    assert str(content / "a.md") in out  # path-ordered slice: a.md first
    assert str(content / "b.md") not in out


def test_curate_command(tmp_path, capsys, spark, sf_dir):
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", f"{sf_dir}/documents.parquet",
        "--out", out_dir,
        "--min-quality", "0.5",
        "--max-tokens", "256",
        "--rows-per-shard", "1000",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "sequences" in out and "input" in out
    shards = spark.read.parquet(out_dir)
    assert shards.count() > 0
    assert {"seq_id", "seq_pos", "chunk_text", "n_tokens"} <= set(shards.columns)


def test_index_then_search_roundtrip(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    capsys.readouterr()

    assert main(["stats", "--index", index]) == 0
    assert "rows=2 dim=64..64" in capsys.readouterr().out

    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path, "-k", "2"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]  # self-match first

    assert main(["search", "--index", index, "--text", "alpha notes about vectors"]) == 0
    assert a_path in capsys.readouterr().out.splitlines()[0]  # nearest = doc a


def test_search_approx_flag(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    capsys.readouterr()
    a_path = str(content / "a.md")
    # IVF approximate path: with 2 docs and assign_k=2 every cell holds both,
    # so the self-match MUST be found (recall 1.0 on a trivial corpus)
    assert main(["search", "--index", index, "--query-id", a_path, "--approx", "-k", "2"]) == 0
    lines = [line for line in capsys.readouterr().out.splitlines() if line.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]


def test_ann_build_and_persisted_search(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    capsys.readouterr()

    assert main(["ann-build", "--index", index, "--out", ivf]) == 0
    assert "built IVF index: 2 vectors" in capsys.readouterr().out

    # persisted-index search: assign_k=2 on a 2-doc corpus puts both docs in
    # every cell → the self-match MUST rank first at +1.0
    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path, "--ivf", ivf, "-k", "2"]) == 0
    lines = [line for line in capsys.readouterr().out.splitlines() if line.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]

    # incremental: nothing new → no-op; new file → exactly one appended
    assert main(["ann-build", "--index", index, "--out", ivf, "--incremental"]) == 0
    assert "0 new or changed vectors" in capsys.readouterr().out
    (content / "d.md").write_text("delta notes about incremental appends")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    capsys.readouterr()
    assert main(["ann-build", "--index", index, "--out", ivf, "--incremental"]) == 0
    assert "appended 1 vector(s)" in capsys.readouterr().out
    assert main(["search", "--index", index, "--query-id", str(content / "d.md"), "--ivf", ivf, "-k", "1"]) == 0
    out = capsys.readouterr().out
    assert "d.md" in out and "+1.000000" in out

    # changed vector: editing a.md re-embeds it under the same id; the
    # incremental build must SUPERSEDE the stale cell rows, not skip them
    # (id-only delta) nor append beside them (ADVICE r5 — stale scores /
    # divergent duplicate payloads). After the run every (cid, id) slot
    # holds exactly one row and every id one payload.
    import os

    from pyspark.sql import functions as F

    from vectrekker_spark.operators.ann import ivf_load

    a_file = content / "a.md"
    a_file.write_text("completely different alpha content after an edit")
    st = os.stat(a_file)
    os.utime(a_file, (st.st_atime + 2, st.st_mtime + 2))  # strict > mtime
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    capsys.readouterr()
    assert main(["ann-build", "--index", index, "--out", ivf, "--incremental"]) == 0
    out = capsys.readouterr().out
    assert "appended 1 vector(s)" in out and "superseded" in out
    _, cells = ivf_load(spark, ivf)
    assert cells.groupBy("cid", "id").count().agg(F.max("count")).first()[0] == 1
    payloads = cells.select("id", F.hash("embedding").alias("h")).distinct()
    assert payloads.count() == cells.select("id").distinct().count()
    assert main(["search", "--index", index, "--query-id", a_path, "--ivf", ivf, "-k", "1"]) == 0
    out = capsys.readouterr().out
    assert a_path in out and "+1.000000" in out
    # re-running immediately is a no-op (hash delta empty)
    assert main(["ann-build", "--index", index, "--out", ivf, "--incremental"]) == 0
    assert "0 new or changed vectors" in capsys.readouterr().out

    # quantized build: searches through the same --ivf path (int8 cells)
    ivf_q = str(tmp_path / "ivf_q8")
    assert main(["ann-build", "--index", index, "--out", ivf_q, "--quantize"]) == 0
    assert "quantized (int8) IVF index" in capsys.readouterr().out
    assert main(["search", "--index", index, "--query-id", a_path, "--ivf", ivf_q, "-k", "1"]) == 0
    out = capsys.readouterr().out
    # the index table doubles as the re-rank corpus → EXACT score, not int8
    assert a_path in out and "+1.000000" in out


def test_index_with_embed_endpoint(tmp_path, capsys, spark):
    # external-embedder flag against a local fake /embeddings server
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            texts = json.loads(self.rfile.read(n))["input"]
            data = [{"embedding": [float(len(t) % 7)] * 8} for t in texts]
            body = json.dumps({"data": data}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        content = _write_corpus(tmp_path)
        state, index = str(tmp_path / "state"), str(tmp_path / "index")
        rc = main([
            "index", "--content-dir", str(content), "--state", state,
            "--index", index,
            "--embed-endpoint", f"http://127.0.0.1:{srv.server_port}/embeddings",
            "--embed-dim", "8",
        ])
        assert rc == 0
        capsys.readouterr()
        assert main(["stats", "--index", index]) == 0
        assert "rows=2 dim=8..8" in capsys.readouterr().out
    finally:
        srv.shutdown()
        srv.server_close()


def test_search_text_dim_mismatch_errors(tmp_path, capsys, spark):
    # a --text search (local 64-dim hashing embedder) against an index built
    # in a different-dimension space must fail fast, not return NaN scores
    index = str(tmp_path / "index")
    spark.createDataFrame(
        [("doc1", [1.0] * 8)], "id string, embedding array<double>"
    ).write.parquet(index)
    rc = main(["search", "--index", index, "--text", "some query"])
    assert rc == 2
    out = capsys.readouterr().out
    assert "64 dims" in out and "8-dim" in out


def test_toml_config(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    cfg = tmp_path / "config.toml"
    cfg.write_text(
        f'[base]\ncontent_folder = "{content}"\ncontent_regex = ".*a\\\\.md$"\n'
    )
    rc = main([
        "index", "--config", str(cfg),
        "--state", str(tmp_path / "s"), "--index", str(tmp_path / "i"), "--dry-run",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "1 file(s)" in out and "a.md" in out


def test_missing_content_dir_errors(tmp_path, capsys):
    rc = main(["index", "--state", str(tmp_path / "s"), "--index", str(tmp_path / "i")])
    assert rc == 2
    assert "content-dir" in capsys.readouterr().out


def test_ann_build_incremental_quantize_mismatch_errors(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    assert main(["ann-build", "--index", index, "--out", ivf]) == 0  # full-precision
    capsys.readouterr()
    # --quantize can't apply to an append into a full-precision index:
    # error out instead of silently ignoring the flag
    rc = main(["ann-build", "--index", index, "--out", ivf, "--incremental", "--quantize"])
    assert rc == 2
    assert "only applies at build time" in capsys.readouterr().out


def test_ann_compact_command(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    assert main(["ann-build", "--index", index, "--out", ivf]) == 0
    capsys.readouterr()
    # nothing to reclaim on a fresh build
    assert main(["ann-compact", "--ivf", ivf]) == 0
    assert "removed 0 duplicate row(s)" in capsys.readouterr().out


def test_curate_query_flag_validation(tmp_path, capsys, spark, sf_dir):
    out = str(tmp_path / "s")
    docs = f"{sf_dir}/documents.parquet"
    # whitespace-only query: clean error, not a traceback
    rc = main(["curate", "--documents", docs, "--out", out, "--query", "   "])
    assert rc == 2 and "at least one term" in capsys.readouterr().out
    # --min-bm25 without --query: rejected, not silently ignored
    rc = main(["curate", "--documents", docs, "--out", out, "--min-bm25", "0.5"])
    assert rc == 2 and "requires --query" in capsys.readouterr().out
    # --strip-span-ngram=1 is degenerate: rejected before any stage runs
    rc = main(
        ["curate", "--documents", docs, "--out", out, "--strip-span-ngram", "1"]
    )
    assert rc == 2 and "strip-span-ngram" in capsys.readouterr().out
    # negative per-stratum cap: rejected before the session spins up
    rc = main(
        ["curate", "--documents", docs, "--out", out,
         "--max-docs-per-stratum", "-1"]
    )
    assert rc == 2 and "max-docs-per-stratum" in capsys.readouterr().out
    # a --stratum-col naming a missing column: rc 2 with a message (the
    # same failure mode as its sibling flag), not a raw ValueError
    # traceback from deep inside curate() (ADVICE r9)
    rc = main(
        ["curate", "--documents", docs, "--out", out,
         "--max-docs-per-stratum", "5", "--stratum-col", "nope"]
    )
    assert rc == 2 and "'nope' is not a column" in capsys.readouterr().out
    # boilerplate knobs: negative min-words / out-of-range alpha -> rc 2
    rc = main(
        ["curate", "--documents", docs, "--out", out,
         "--strip-boilerplate-min-words", "-1"]
    )
    assert rc == 2 and "strip-boilerplate-min-words" in capsys.readouterr().out
    rc = main(
        ["curate", "--documents", docs, "--out", out,
         "--strip-boilerplate-min-words", "3", "--boilerplate-min-alpha", "1.5"]
    )
    assert rc == 2 and "boilerplate-min-alpha" in capsys.readouterr().out


def test_curate_stratum_cap_flag(tmp_path, capsys, spark, sf_dir):
    # end-to-end through the CLI: documents.parquet has a `source` column;
    # cap 5 per source must bound the funnel's after_stratum_cap line
    out = str(tmp_path / "shards")
    rc = main([
        "curate", "--documents", f"{sf_dir}/documents.parquet", "--out", out,
        "--min-quality", "0.0", "--max-docs-per-stratum", "5",
    ])
    assert rc == 0
    text = capsys.readouterr().out
    line = next(l for l in text.splitlines() if "after_stratum_cap" in l)
    # line shape: "  after_stratum_cap  <count>  (<t>s)" — the timing
    # suffix is part of the surface now, assert it too
    n = int(line.split()[1])
    assert line.rstrip().endswith("s)")
    import duckdb
    n_sources = duckdb.connect().execute(
        f"SELECT count(DISTINCT source) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert 0 < n <= 5 * n_sources


def test_stats_with_ivf_summary(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    assert main(["ann-build", "--index", index, "--out", ivf]) == 0
    capsys.readouterr()
    assert main(["stats", "--index", index, "--ivf", ivf]) == 0
    out = capsys.readouterr().out
    assert "rows=2 dim=64..64" in out
    # assign_k=2 on 2 docs in 2 cells → 4 rows, both cells hold both docs
    assert "2 centroid(s)" in out and "4 row(s) (full)" in out
    assert "cell sizes 2..2" in out and "assign_k=2" in out


def test_stats_recall_canary(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ivf = str(tmp_path / "ivf")
    assert main(["index", "--content-dir", str(content), "--state", state, "--index", index]) == 0
    assert main(["ann-build", "--index", index, "--out", ivf]) == 0
    capsys.readouterr()
    assert main([
        "stats", "--index", index, "--ivf", ivf, "--recall-sample", "10",
    ]) == 0
    out = capsys.readouterr().out
    # 2 docs, assign_k=2: every cell holds everything -> recall is exactly 1
    assert "ivf recall@10 ~= 1.000 (2 sampled queries" in out


def test_bloom_build_and_curate_decontaminate(tmp_path, capsys, spark, sf_dir):
    docs_path = f"{sf_dir}/documents.parquet"
    bench_path = str(tmp_path / "bench.parquet")
    # smallest non-null-text ids: min-id keeper policy guarantees doc 0
    # survives every dedup stage and is still present to be dropped by
    # the decontamination gate
    (
        spark.read.parquet(docs_path)
        .where("text IS NOT NULL")
        .orderBy("doc_id")
        .limit(3)
        .write.parquet(bench_path)
    )
    bloom_dir = str(tmp_path / "bloom")
    rc = main(["bloom-build", "--bench", bench_path, "--out", bloom_dir])
    out = capsys.readouterr().out
    assert rc == 0
    assert "bloom[shingles]:" in out and "estimated fpp" in out
    # flag validation fails fast, before any Spark work
    assert main(["bloom-build", "--bench", bench_path, "--out", bloom_dir,
                 "--fpp", "2.0"]) == 2
    assert main(["curate", "--documents", docs_path, "--out", str(tmp_path / "x"),
                 "--bench-bloom", bloom_dir, "--decontam-shingle-k", "0"]) == 2
    capsys.readouterr()

    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--min-quality", "0.0", "--bench-bloom", bloom_dir,
        "--rows-per-shard", "1000",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "after_decontaminate" in out
    # the 3 benchmark docs (at least) were dropped by the gate
    # (line shape since r9: "<stage>  <count>  (<t>s)" — timing optional)
    lines = {l.split()[0]: int(l.split()[1]) for l in out.splitlines()
             if len(l.split()) >= 2 and l.split()[1].isdigit()}
    assert lines["after_decontaminate"] < lines["after_lang"]


def test_curate_bad_bloom_path_fails_at_run_start(tmp_path, spark, sf_dir):
    import pytest

    with pytest.raises(ValueError, match="no bloom meta"):
        main([
            "curate", "--documents", f"{sf_dir}/documents.parquet",
            "--out", str(tmp_path / "y"),
            "--bench-bloom", str(tmp_path / "not-a-bloom"),
        ])


def test_profile_command(tmp_path, capsys, spark, sf_dir):
    import json

    out_json = str(tmp_path / "prof.json")
    rc = main([
        "profile", "--table", f"{sf_dir}/documents.parquet",
        "--columns", "doc_id,text", "--out", out_json,
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "doc_id" in out and "text" in out and "column" in out
    prof = json.load(open(out_json))
    assert {p["column"] for p in prof} == {"doc_id", "text"}
    assert all(p["n_rows"] > 0 for p in prof)


def test_bloom_build_content_kind(tmp_path, capsys, spark, sf_dir):
    import pytest

    docs_path = f"{sf_dir}/documents.parquet"
    bloom_dir = str(tmp_path / "cbloom")
    rc = main(["bloom-build", "--bench", docs_path, "--out", bloom_dir,
               "--kind", "content"])
    out = capsys.readouterr().out
    assert rc == 0 and "bloom[content]:" in out and "doc(s)" in out
    # a content bloom is usable for incremental exact dedup...
    from vectrekker_spark.operators.bloom import bloom_load
    from vectrekker_spark.operators.dedup import exact_dedup_against

    bf = bloom_load(bloom_dir)
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    deduped = exact_dedup_against(docs, docs, history_bloom=bf)
    assert deduped.count() == docs.where("text IS NULL").count()
    deduped._cached_probe.unpersist()
    # --shingle-k is a shingles-mode dial; content mode refuses it fast
    assert main(["bloom-build", "--bench", docs_path, "--out", bloom_dir,
                 "--kind", "content", "--shingle-k", "5"]) == 2
    # ...but the decontamination gate refuses it at run START
    with pytest.raises(ValueError, match="kind='content'"):
        main(["curate", "--documents", docs_path, "--out", str(tmp_path / "z"),
              "--bench-bloom", bloom_dir])
    bf.release()


def test_fit_quality_then_curate_model_gate(tmp_path, capsys, spark):
    # label good/spam docs, train via the CLI, then curate with the model
    good = [
        (i, f"informative unique prose number {i} with varied real words "
            f"covering topic {i} in depth and detail", "en", 1)
        for i in range(8)
    ]
    spam = [
        (100 + i, "buy now buy now buy now buy now buy now buy now spam", "en", 0)
        for i in range(8)
    ]
    labeled_path = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        good + spam, "doc_id long, text string, lang string, label int"
    ).write.parquet(labeled_path)
    model_path = str(tmp_path / "model.npz")
    rc = main([
        "fit-quality",
        "--labeled", labeled_path,
        "--out", model_path,
        "--n-features", "1024",
        "--iters", "120",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "train-accuracy 16/16" in out

    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in good + spam],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", docs_path,
        "--out", out_dir,
        "--min-quality", "0.0",
        "--near-dup-threshold", "0.99",
        "--quality-model", model_path,
        "--max-tokens", "256",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "after_model_quality" in out
    kept = spark.read.parquet(out_dir)
    ids = {r["doc_id"] for r in kept.select("doc_id").distinct().collect()}
    assert ids <= {r[0] for r in good}  # every spam doc gated out
    # the spam docs near-dup to one survivor, which the model then drops
    assert len(ids) >= 7


def test_curate_semantic_flag_validation(tmp_path, capsys):
    rc = main([
        "curate", "--documents", "x", "--out", "y",
        "--semantic-dedup-threshold", "1.5",
    ])
    assert rc == 2
    assert "semantic-dedup-threshold" in capsys.readouterr().out


def test_fit_ngram_lm_then_curate_gate(tmp_path, capsys, spark):
    ref_path = str(tmp_path / "ref.parquet")
    spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log"),
         (2, "the cat ran to the dog")],
        "doc_id long, text string",
    ).write.parquet(ref_path)
    lm_dir = str(tmp_path / "lm")
    rc = main(["fit-ngram-lm", "--reference", ref_path, "--out", lm_dir])
    out = capsys.readouterr().out
    assert rc == 0 and "unigrams" in out and "reference tokens" in out

    docs_path = str(tmp_path / "pdocs.parquet")
    spark.createDataFrame(
        [(0, "the cat sat on the mat", "en"),
         (1, "zz qq ww ee rr tt yy uu ii oo", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out_dir = str(tmp_path / "pshards")
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--min-quality", "0.0", "--near-dup-threshold", "0.99",
        "--ngram-lm", lm_dir, "--max-perplexity", "15",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "after_perplexity" in out
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(out_dir).select("doc_id").distinct().collect()
    }
    assert ids == {0}

    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--max-perplexity", "-1",
    ])
    assert rc == 2 and "max-perplexity" in capsys.readouterr().out


def test_curate_warc_input_format(tmp_path, capsys, spark):
    """--input-format warc: Common Crawl-shaped ingestion straight into
    the assembly funnel (r13). Fixture: a WET-style conversion record +
    an HTTP response record, via the test_text_formats builders."""
    from tests.test_text_formats import _fixture_warc

    warc_path = tmp_path / "crawl.warc"
    warc_path.write_bytes(_fixture_warc())
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", str(warc_path),
        "--input-format", "warc",
        "--out", out_dir,
        "--min-quality", "0.0",
        "--max-tokens", "64",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "input  3" in out  # 2 responses + 1 conversion, requests dropped
    shards = spark.read.parquet(out_dir)
    assert shards.count() > 0


def test_pq_build_then_search(tmp_path, capsys, spark):
    """pq-build → search --pq: the memory-bound ANN path end-to-end; the
    refined search's top hit is the exact self-match at cosine 1.0."""
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "s"), str(tmp_path / "i")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()
    pq_dir = str(tmp_path / "pq")
    # a 2-doc corpus can't feed 16-way k-means: the distinct-subvector
    # fallback pads the codebooks deterministically and the build succeeds
    assert main(["pq-build", "--index", index, "--out", pq_dir,
                 "--m", "8", "--nbits", "4"]) == 0
    out = capsys.readouterr().out
    assert "m=8 x 2^4" in out and "8 bytes/vector" in out
    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path,
                 "--pq", pq_dir, "-k", "2"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]
    # invalid geometry fails with rc 2 and a message, not a traceback
    assert main(["pq-build", "--index", index, "--out", pq_dir,
                 "--m", "7"]) == 2
    assert "not divisible" in capsys.readouterr().out


def test_fit_langid_then_curate_lang_gate(tmp_path, capsys, spark):
    # label two planted pseudo-languages, train via the CLI, then curate a
    # lang-less corpus with --langid-model + --langs (the crawl shape)
    import random

    rng = random.Random(14)

    def _doc(lang):
        if lang == "lat":
            words = ["the quick brown words of prose text".split()[
                rng.randrange(7)] for _ in range(25)]
        else:
            words = ["".join(rng.choice("абвгдежзик") for _ in range(5))
                     for _ in range(25)]
        return " ".join(words)

    labeled = [(_doc(lg), lg) for lg in ("lat", "cyr") for _ in range(20)]
    labeled_path = str(tmp_path / "langs.parquet")
    spark.createDataFrame(labeled, "text string, lang string").write.parquet(
        labeled_path
    )
    model_path = str(tmp_path / "langid.npz")
    rc = main([
        "fit-langid",
        "--labeled", labeled_path,
        "--out", model_path,
        "--n-features", "4096",
        "--iters", "80",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "train-accuracy 40/40" in out

    docs = [(i, _doc("lat")) for i in range(8)] + [
        (100 + i, _doc("cyr")) for i in range(8)
    ]
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        docs_path
    )
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", docs_path,
        "--out", out_dir,
        "--min-quality", "0.0",
        "--near-dup-threshold", "0.99",
        "--langid-model", model_path,
        "--langs", "lat",
        "--max-tokens", "256",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    kept = spark.read.parquet(out_dir)
    ids = {r["doc_id"] for r in kept.select("doc_id").distinct().collect()}
    assert ids and ids <= set(range(8))  # every cyr doc gated out


def test_curate_langs_without_lang_column_fails_early(tmp_path, spark, sf_dir):
    # keep_langs on a lang-less corpus without a langid model must raise
    # the remediation-naming error, not an AnalysisException mid-funnel
    import pytest

    docs_path = str(tmp_path / "nolang.parquet")
    spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    ).write.parquet(docs_path)
    with pytest.raises(ValueError, match="langid_model_path"):
        main([
            "curate", "--documents", docs_path,
            "--out", str(tmp_path / "o"), "--langs", "en",
        ])


def test_ivfpq_build_and_persisted_search(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ipq = str(tmp_path / "ivfpq")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()

    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--m", "8", "--nbits", "2"]) == 0
    out = capsys.readouterr().out
    assert "2 vectors" in out and "v0" in out

    # refine=5 reranks exactly, so the self-match must rank first at +1.0
    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path,
                 "--ivfpq", ipq, "-k", "2"]) == 0
    lines = [line for line in capsys.readouterr().out.splitlines()
             if line.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]

    # incremental: nothing new → no-op; new doc → appended under the
    # PINNED codebooks and immediately searchable
    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--incremental"]) == 0
    assert "up to date" in capsys.readouterr().out
    (content / "d.md").write_text("delta notes about incremental appends")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()
    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--incremental"]) == 0
    assert "appended 1 vectors" in capsys.readouterr().out
    assert main(["search", "--index", index,
                 "--query-id", str(content / "d.md"),
                 "--ivfpq", ipq, "-k", "1"]) == 0
    out = capsys.readouterr().out
    assert "d.md" in out and "+1.000000" in out


def test_ivfpq_build_opq_flag(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ipq = str(tmp_path / "ivfpq_opq")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()
    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--m", "8", "--nbits", "2", "--opq"]) == 0
    assert "OPQ-rotated" in capsys.readouterr().out
    # the rotation is applied transparently: exact-rerank self-match at 1.0
    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path,
                 "--ivfpq", ipq, "-k", "2"]) == 0
    lines = [line for line in capsys.readouterr().out.splitlines()
             if line.strip()]
    assert a_path in lines[0] and "+1.000000" in lines[0]
    # incremental append stays rotation-aware
    (content / "d.md").write_text("delta notes about rotated appends")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()
    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--incremental"]) == 0
    assert "appended 1" in capsys.readouterr().out
    assert main(["search", "--index", index,
                 "--query-id", str(content / "d.md"),
                 "--ivfpq", ipq, "-k", "1"]) == 0
    out = capsys.readouterr().out
    assert "d.md" in out and "+1.000000" in out


def test_curate_domain_from_url_stratum_cap(tmp_path, capsys, spark):
    """The crawl composition: --domain-from-url derives the quota stratum
    from urls (PSL table optional), so --max-docs-per-stratum caps per
    registered domain on a corpus that arrived with urls only."""
    docs = (
        [(i, f"unique prose document number {i} with plenty of words here",
          f"https://alice.github.io/p{i}") for i in range(6)]
        + [(100 + i, f"other prose document number {i} quite wordy indeed",
            f"https://bob.github.io/p{i}") for i in range(6)]
    )
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_path)
    sfx_path = str(tmp_path / "psl.parquet")
    spark.createDataFrame(
        [("com",), ("io",), ("github.io",)], "suffix string"
    ).write.parquet(sfx_path)
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--min-quality", "0.0", "--near-dup-threshold", "0.99",
        "--domain-from-url", "--suffix-table", sfx_path,
        "--max-docs-per-stratum", "2", "--stratum-col", "domain",
        "--max-tokens", "256",
    ])
    assert rc == 0
    capsys.readouterr()
    kept = spark.read.parquet(out_dir)
    doc_ids = {r["doc_id"] for r in kept.select("doc_id").distinct().collect()}
    # 2 per user site under the PSL table (the heuristic's single
    # 'github.io' stratum would keep 2 TOTAL)
    assert len({i for i in doc_ids if i < 100}) == 2
    assert len({i for i in doc_ids if i >= 100}) == 2

    # url-less corpus fails early with a remediation message
    nolang = str(tmp_path / "nourl.parquet")
    spark.createDataFrame([(1, "text")], "doc_id long, text string")\
        .write.parquet(nolang)
    rc = main([
        "curate", "--documents", nolang, "--out", str(tmp_path / "o2"),
        "--domain-from-url",
    ])
    assert rc == 2
    assert "needs a 'url' column" in capsys.readouterr().out


def test_stats_ivfpq(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    ipq = str(tmp_path / "ivfpq")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    assert main(["ivfpq-build", "--index", index, "--out", ipq,
                 "--m", "8", "--nbits", "2"]) == 0
    capsys.readouterr()
    assert main(["stats", "--index", index, "--ivfpq", ipq]) == 0
    out = capsys.readouterr().out
    assert "ivfpq: v0" in out and "8 bytes/vector" in out
    assert "assign_k=2" in out


def test_pq_build_opq_flag(tmp_path, capsys, spark):
    content = _write_corpus(tmp_path)
    state, index = str(tmp_path / "state"), str(tmp_path / "index")
    pqd = str(tmp_path / "pq_opq")
    assert main(["index", "--content-dir", str(content), "--state", state,
                 "--index", index]) == 0
    capsys.readouterr()
    assert main(["pq-build", "--index", index, "--out", pqd,
                 "--m", "8", "--nbits", "2", "--opq"]) == 0
    assert "OPQ-rotated" in capsys.readouterr().out
    a_path = str(content / "a.md")
    assert main(["search", "--index", index, "--query-id", a_path,
                 "--pq", pqd, "-k", "2"]) == 0
    lines = [line for line in capsys.readouterr().out.splitlines()
             if line.strip()]
    assert len(lines) == 2
    assert a_path in lines[0] and "+1.000000" in lines[0]


def test_frontier_verb(tmp_path, capsys, spark):
    """The crawl loop at CLI level: fetched pages → link extraction →
    dedup against fetched (aliases included) → blocklist → seed list."""
    pages = [
        (1, "http://a.com/", '<a href="/new1">n</a>'
            '<a href="http://A.COM:80/#top">alias of fetched a.com/</a>'
            '<a href="http://bad.net/spam">blocked</a>'),
        (2, "http://b.com/dir/p.html", '<a href="new2.html">n</a>'
            '<a href="/new1">cross-site same path, different host</a>'),
    ]
    docs_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        pages, "doc_id long, url string, text string"
    ).write.parquet(docs_path)
    bl_path = str(tmp_path / "bl.parquet")
    spark.createDataFrame([("bad.net",)], "host string").write.parquet(bl_path)
    out = str(tmp_path / "frontier.parquet")
    rc = main([
        "frontier", "--documents", docs_path, "--out", out,
        "--blocklist", bl_path,
    ])
    assert rc == 0
    assert "3 new url(s)" in capsys.readouterr().out
    urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
    # alias of a fetched page dropped; bad.net blocked; b.com/new1 is a
    # DIFFERENT resource than a.com/new1 (host differs) so both stay
    assert urls == [
        "http://a.com/new1",
        "http://b.com/dir/new2.html",
        "http://b.com/new1",
    ]
    # missing url column fails early
    nourl = str(tmp_path / "nourl.parquet")
    spark.createDataFrame([(1, "<a href='/x'>l</a>")],
                          "doc_id long, text string").write.parquet(nourl)
    rc = main(["frontier", "--documents", nourl, "--out", str(tmp_path / "o")])
    assert rc == 2
    assert "'url' column" in capsys.readouterr().out


def test_curate_dedup_paragraphs_flag(tmp_path, capsys, spark):
    banner = "subscribe to our newsletter for weekly updates and offers"
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (0, f"alpha unique content paragraph\n\n{banner}", "en"),
            (1, f"{banner}\n\nbeta tail content paragraph here", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--min-quality", "0.0", "--dedup-paragraphs-min-chars", "40",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "after_para_dedup" in out
    texts = " ".join(
        r["chunk_text"] for r in spark.read.parquet(out_dir).collect()
    )
    # the banner survives exactly once (its doc-0 keeper)
    assert texts.count(banner) == 1
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--dedup-paragraphs-min-chars", "-2",
    ])
    assert rc == 2


def test_fit_bpe_command(tmp_path, capsys, spark, sf_dir):
    out = str(tmp_path / "model.bpe.json")
    rc = main([
        "fit-bpe", "--documents", f"{sf_dir}/documents.parquet",
        "--out", out, "--n-merges", "50",
    ])
    printed = capsys.readouterr().out
    assert rc == 0 and "merges" in printed
    from vectrekker_spark.operators.bpetrainer import bpe_load

    model = bpe_load(out)
    assert 0 < len(model.merges) <= 50
    rc = main(["fit-bpe", "--documents", "x", "--out", out, "--n-merges", "-1"])
    assert rc == 2


def test_curate_normalize_flag(tmp_path, capsys, spark):
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(0, "cafÃ© menu with plenty of ordinary words here", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out_dir = str(tmp_path / "shards")
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--min-quality", "0.0", "--normalize", "NFKC",
    ])
    assert rc == 0 and "after_normalize" in capsys.readouterr().out
    texts = [r["chunk_text"] for r in spark.read.parquet(out_dir).collect()]
    assert any("café" in t for t in texts)
    rc = main([
        "curate", "--documents", docs_path, "--out", out_dir,
        "--normalize", "latin-1",
    ])
    assert rc == 2


def test_curate_min_compression_ratio_flag_validation(tmp_path, capsys):
    rc = main([
        "curate", "--documents", "x", "--out", str(tmp_path / "o"),
        "--min-compression-ratio", "1.2",
    ])
    assert rc == 2


def test_frontier_robots_flag(tmp_path, capsys, spark):
    pages = [
        (1, "http://a.com/", '<a href="/allowed/x">a</a>'
            '<a href="/private/x">p</a>'
            '<a href="http://norobots.net/y">n</a>'),
    ]
    docs_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        pages, "doc_id long, url string, text string"
    ).write.parquet(docs_path)
    robots_path = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string",
    ).write.parquet(robots_path)
    out = str(tmp_path / "frontier.parquet")
    rc = main([
        "frontier", "--documents", docs_path, "--out", out,
        "--robots", robots_path,
    ])
    assert rc == 0
    urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
    # /private/ disallowed; the host without robots passes
    assert urls == ["http://a.com/allowed/x", "http://norobots.net/y"]
    # robots parquet missing columns fails early
    bad = str(tmp_path / "bad_robots.parquet")
    spark.createDataFrame([("a.com",)], "host string").write.parquet(bad)
    rc = main([
        "frontier", "--documents", docs_path,
        "--out", str(tmp_path / "o2"), "--robots", bad,
    ])
    assert rc == 2
    assert "robots_txt" in capsys.readouterr().out


def test_curate_bpe_model_flag(tmp_path, capsys, spark, sf_dir):
    model_path = str(tmp_path / "bpe.json")
    rc = main([
        "fit-bpe", "--documents", f"{sf_dir}/documents.parquet",
        "--out", model_path, "--n-merges", "30",
    ])
    assert rc == 0
    capsys.readouterr()
    out_dir = str(tmp_path / "shards_bpe")
    rc = main([
        "curate", "--documents", f"{sf_dir}/documents.parquet",
        "--out", out_dir, "--min-quality", "0.0", "--max-tokens", "64",
        "--bpe-model", model_path,
    ])
    assert rc == 0 and "sequences" in capsys.readouterr().out
    from vectrekker_spark.operators.bpetrainer import bpe_load

    model = bpe_load(model_path)
    shards = spark.read.parquet(out_dir)
    row = shards.select("chunk_text", "n_tokens").first()
    # n_tokens is the LEARNED-BPE count, not the whitespace proxy
    assert row["n_tokens"] == sum(
        1
        for w in __import__("re").compile(
            model.pattern, __import__("re").ASCII
        ).findall(row["chunk_text"])
        for _ in model.encode_word(w)
    )
    # torn model fails at run START (the bad-bloom-path precedent: the
    # loader's ValueError surfaces before any funnel stage runs)
    import pytest

    with open(model_path, "w") as f:
        f.write("{")
    with pytest.raises(ValueError, match="corrupt BPE"):
        main([
            "curate", "--documents", f"{sf_dir}/documents.parquet",
            "--out", str(tmp_path / "o3"), "--bpe-model", model_path,
        ])


def test_dsir_select_cli(tmp_path, capsys, spark):
    target = [("quantum orbitals and covalent bonds in molecules",)] * 3
    raw = [
        ("a", "quantum orbitals of the covalent bonds"),
        ("b", "football scores tonight were high"),
        ("c", "orbitals and molecules and bonds again"),
        ("d", "stream the detective drama tonight"),
    ]
    tpath = str(tmp_path / "target.parquet")
    rpath = str(tmp_path / "raw.parquet")
    opath = str(tmp_path / "picked.parquet")
    spark.createDataFrame(target, "text string").write.parquet(tpath)
    spark.createDataFrame(raw, "doc_id string, text string").write.parquet(rpath)
    rc = main([
        "dsir-select", "--docs", rpath, "--target", tpath, "--out", opath,
        "--k", "2", "--n-features", "4096",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "wrote 2 docs" in out
    picked = {r["doc_id"] for r in spark.read.parquet(opath).collect()}
    assert picked <= {"a", "b", "c", "d"} and len(picked) == 2
    # exactly one of --k/--rate
    assert main(["dsir-select", "--docs", rpath, "--target", tpath,
                 "--out", opath]) == 2
    assert main(["dsir-select", "--docs", rpath, "--target", tpath,
                 "--out", opath, "--k", "1", "--rate", "0.5"]) == 2
    # rate arm
    rc = main([
        "dsir-select", "--docs", rpath, "--target", tpath, "--out", opath,
        "--rate", "0.5", "--n-features", "4096", "--seed", "t",
    ])
    assert rc == 0

import pytest  # noqa: E402  (slow marker below)

# QA tail: excluded from the default run (see pytest.ini header)
pytestmark = pytest.mark.slow
