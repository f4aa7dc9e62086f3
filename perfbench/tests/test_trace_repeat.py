"""Per-span job counts repeat exactly across traced runs at one seed."""

from perfbench import workloads
from perfbench.spans import SPANS, Tracer, read_jobs, summarize


def _traced_jobs(spark, tmp_path, run, name, tag):
    tracer = Tracer()
    tracer.install()
    try:
        out = run(spark, name, 3, 1.0, str(tmp_path / tag), tracer, True)
    finally:
        tracer.uninstall()
    assert out.failed == 0, out.failures
    layer = summarize(tracer.spans, read_jobs(spark), names=SPANS)
    return {k: (v["calls"], v["jobs"]) for k, v in layer.items()}


def test_mor_jobs_repeat(spark, tmp_path, monkeypatch):
    small = dict(workloads.TABLE_WORKLOADS["mor_stream_compact"],
                 base_rows=3000)
    monkeypatch.setitem(workloads.TABLE_WORKLOADS, "mor_stream_compact",
                        small)
    first = _traced_jobs(spark, tmp_path, workloads.run_orders,
                         "mor_stream_compact", "a")
    second = _traced_jobs(spark, tmp_path, workloads.run_orders,
                          "mor_stream_compact", "b")
    assert first == second
    assert first["table.commit"][1] > 0
    assert first["services.compact"][0] > 0


def test_corpus_jobs_repeat(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "CORPUS",
                        dict(workloads.CORPUS, base_docs=300, batch_docs=60))
    first = _traced_jobs(spark, tmp_path, workloads.run_corpus,
                         "corpus_dedup_ingest", "a")
    second = _traced_jobs(spark, tmp_path, workloads.run_corpus,
                          "corpus_dedup_ingest", "b")
    assert first == second
    assert first["streaming.filter_batch"][1] > 0
    assert first["functions.dedup_keep_best"][0] > 0
