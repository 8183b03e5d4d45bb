"""User-facing engine façade — the reference's service surface, Spark-first.

Maps the reference's entry points
(/root/reference/src/main/java/org/grobid/service/AstroRestService.java:70-92)
onto one engine object:

  reference                      astrospark
  ---------------------------   ------------------------------------------
  POST /processAstroText        AstroEngine.process_text(str) -> spans
  (PDF upload → segmentation)   upstream; pre-segmented docs table instead
  batch dir createTrainingBatch AstroEngine.process_text_dir(path)
  (per-request JSON response)   AstroEngine.process_docs(df) -> DataFrame
                                + io.sources.spans_to_json at the edge

One SparkSession + one broadcast per engine instance, mirroring the
reference's per-JVM singletons (AstroParser.java:67-81).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from astrospark.engine.extraction import (
    broadcast_artifacts,
    extract_spans,
    load_default_artifacts,
)


class AstroEngine:
    """``spark`` is created LAZILY: the single-request path
    (``process_text``, the service endpoint) runs the kernel driver-side
    and must not pay a JVM spin-up; the session + broadcast materialize on
    the first cluster-scale call."""

    def __init__(self, spark: SparkSession | None = None, artifacts=None):
        self._spark = spark
        self._bcast = None
        self.artifacts = artifacts or load_default_artifacts()

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from astrospark.engine.session import build_session

            self._spark = build_session()
        return self._spark

    @property
    def bcast(self):
        if self._bcast is None:
            self._bcast = broadcast_artifacts(self.spark, self.artifacts)
        return self._bcast

    # -- single request (driver-side, no cluster round-trip) ---------------

    def process_text(self, text: str) -> list[dict]:
        """One string → ordered span dicts (the /processAstroText shape).
        Runs the kernel directly on a 1-doc batch — a service endpoint
        should not pay a Spark job per request."""
        import pyarrow as pa

        from astrospark.kernel import DOCS_SCHEMA, extract_batch

        vocab, trie, model = self.artifacts
        batch = pa.RecordBatch.from_pydict(
            {
                "doc_id": ["_request"],
                "spans": [[{"kind": "text", "text": text, "media_ref": "", "offset": 0}]],
            },
            schema=DOCS_SCHEMA,
        )
        out = extract_batch(batch, vocab, trie, model)
        return [
            {
                "seq": int(r.seq),
                "kind": r.kind,
                "text": r.text,
                "media_ref": r.media_ref,
                "offset": int(r.offset),
            }
            for r in out.itertuples()
        ]

    # -- cluster-scale ------------------------------------------------------

    def process_docs(self, docs: DataFrame, **kwargs) -> DataFrame:
        """Interleaved docs table → spans table (the scale path)."""
        return extract_spans(docs, self.bcast, **kwargs)

    def process_documents_table(self, documents: DataFrame, **kwargs) -> DataFrame:
        """Flat documents(doc_id, text, ...) table → spans table."""
        from astrospark.io.sources import documents_to_docs

        return self.process_docs(documents_to_docs(documents), **kwargs)

    def process_text_dir(self, input_dir: str, **kwargs) -> DataFrame:
        """Directory of *.txt files → spans table (S4 batch source)."""
        from astrospark.io.textdir import read_text_dir

        return self.process_docs(read_text_dir(self.spark, input_dir), **kwargs)
