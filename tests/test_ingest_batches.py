"""Multi-batch ingest golden: the benchmark's seeded generator
(ribench/gen.py) writes a preloaded graph and 50-line DOI batches, and
each batch goes through cli.run_ingest with the generator's in-process
transport. Every batch's 14-metric scorecard and the row growth of each
graph table must equal what the generator predicts (new DOIs, injected
fetch failures, authors recurring by ORCID or by name, country tags)."""

from __future__ import annotations

from ribench.gen import BATCH_LINES, make_batches, write_graph_preload
from ribench.ingest import make_transport

from research_index_backend_spark.cli import run_ingest

SEED = 41
GROWTH = {"outputs": "new_outputs", "authors": "new_authors",
          "author_of": "new_author_of", "refers_to": "new_refers_to"}


def test_two_batches_match_predicted_scorecards_and_growth(spark, tmp_path):
    data_dir = tmp_path / "graph"
    preload = write_graph_preload(SEED, data_dir)

    def rows():
        return {t: spark.read.parquet(str(data_dir / t)).count()
                for t in GROWTH}

    before = rows()
    for i, batch in enumerate(make_batches(SEED, preload, 2)):
        doi_file = tmp_path / f"dois-{i}.txt"
        doi_file.write_text("\n".join(batch.lines) + "\n")
        card = run_ingest(spark, str(doi_file), str(data_dir),
                          limit=BATCH_LINES,
                          transport=make_transport(batch.responses,
                                                   batch.failing)
                          ).collect()[0].asDict()
        del card["total_time_seconds"]
        assert card == batch.scorecard, f"batch {i}"
        after = rows()
        assert {t: after[t] - before[t] for t in GROWTH} == {
            t: getattr(batch, attr) for t, attr in GROWTH.items()}, f"batch {i}"
        before = after
