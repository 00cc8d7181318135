"""CLI subcommands added in round 5: spans / cut-spans (substring
dedup) and semdedup (embedding-space cluster-then-prune)."""

import pytest


class TestCliSpanDedup:
    def _write_docs(self, spark, tmp_path):
        shared = "the quick brown fox jumps high"
        rows = [
            (0, f"alpha beta {shared} gamma delta"),
            (1, f"{shared} zeta eta theta iota"),
            (2, "totally unique words only here today now"),
        ]
        path = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
        return path

    def test_spans(self, spark, tmp_path):
        from linkgraph import cli

        out = str(tmp_path / "spans")
        cli.main(["spans", "--documents", self._write_docs(spark, tmp_path),
                  "--span-n", "3", "--output", out])
        got = {
            r["doc_id"]: (r["span_start"], r["span_end"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == {0: (3, 8), 1: (1, 6)}

    def test_cut_spans(self, spark, tmp_path):
        from linkgraph import cli

        out = str(tmp_path / "cut")
        cli.main(["cut-spans", "--documents", self._write_docs(spark, tmp_path),
                  "--span-n", "3", "--output", out])
        got = {
            r["doc_id"]: (r["text"], r["n_tokens_cut"])
            for r in spark.read.parquet(out).collect()
        }
        assert got[0] == ("alpha beta gamma delta", 6)
        assert got[1] == ("zeta eta theta iota", 6)
        assert got[2][1] == 0

    def test_spans_requires_documents(self, spark, tmp_path):
        from linkgraph import cli

        with pytest.raises(SystemExit, match="documents"):
            cli.main(["spans", "--output", str(tmp_path / "x")])


class TestCliSemDedup:
    def test_semdedup(self, spark, tmp_path):
        from linkgraph import cli

        rows = [
            (0, [10.0, 0.0, 0.0, 0.0]),
            (1, [10.0, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 8.0, 0.0]),
            (3, [0.0, 0.0, 8.0, 0.1]),
        ]
        epath = str(tmp_path / "emb")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).write.parquet(epath)
        out = str(tmp_path / "sd")
        cli.main(["semdedup", "--embeddings", epath, "--n-clusters", "2",
                  "--tau", "0.95", "--output", out])
        got = {r["vec_id"]: r["kept"] for r in spark.read.parquet(out).collect()}
        assert got == {0: 1, 1: 0, 2: 1, 3: 0}

    def test_semdedup_requires_embeddings(self, spark, tmp_path):
        from linkgraph import cli

        with pytest.raises(SystemExit, match="embeddings"):
            cli.main(["semdedup", "--output", str(tmp_path / "x")])

    @pytest.mark.parametrize(
        "other", ["--documents", "--edges", "--code-table", "--adjacency-text"]
    )
    def test_embeddings_exclusive_with_other_inputs(self, monkeypatch, tmp_path, other):
        """Refused before any Spark work: the session is never asked for."""
        import linkgraph.session
        from linkgraph import cli

        def no_spark(*args, **kwargs):
            raise AssertionError("Spark started before the inputs were checked")

        monkeypatch.setattr(linkgraph.session, "get_spark", no_spark)
        with pytest.raises(SystemExit, match=f"--embeddings cannot be combined with {other}"):
            cli.main(["semdedup", "--embeddings", "e", other, "x",
                      "--output", str(tmp_path / "x")])

    def test_graph_input_error_names_embeddings(self, spark, tmp_path):
        from linkgraph import cli

        with pytest.raises(SystemExit, match="--embeddings"):
            cli.main(["pagerank", "--output", str(tmp_path / "x")])
