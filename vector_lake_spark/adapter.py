"""Text-in / documents-out adapter — parity with the reference's LangChain
``VectorStore`` surface (``/root/reference/vector_lake/langchain/__init__.py:
18-116``): ``add_texts`` / ``similarity_search`` / ``from_texts`` over a
pluggable embedding function (the reference's only UDF-like extension point,
L1 in SURVEY.md §2.A).

Spark-first differences:
- embedding runs executor-side as an Arrow-batched ``mapInPandas`` over the
  text column — a batch of texts embeds in parallel across the cluster
  instead of one driver-side loop (langchain/__init__.py:54-60);
- no model libraries ship in this container, so the default embedder is a
  deterministic hashed-char-n-gram vectorizer (real embedding models plug in
  as any ``Callable[[list[str]], list[list[float]]]``).

Defaults mirror the reference: dimension 384 (MiniLM), approx_shards=10
(langchain/__init__.py:25-34).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from vector_lake_spark.store import SparkVectorLake

EmbedFn = Callable[[list[str]], list[list[float]]]


def hashed_ngram_embedder(dim: int = 384, n: int = 3) -> EmbedFn:
    """Deterministic stand-in embedding: character n-grams hashed into
    ``dim`` buckets, L2-normalized. Pure Python/stdlib, identical across
    executors and runs."""

    def embed(texts: list[str]) -> list[list[float]]:
        out = []
        for t in texts:
            v = [0.0] * dim
            s = (t or "").lower()
            for i in range(max(len(s) - n + 1, 0)):
                gram = s[i : i + n]
                h = int.from_bytes(
                    hashlib.md5(gram.encode()).digest()[:8], "big"
                )
                v[h % dim] += 1.0
            norm = sum(x * x for x in v) ** 0.5
            out.append([x / norm for x in v] if norm > 0 else v)
        return out

    return embed


def embed_texts_df(
    df: DataFrame,
    embedding: EmbedFn,
    text_col: str = "document",
    out_col: str = "vector",
) -> DataFrame:
    """Add an embedding column via Arrow-batched ``mapInPandas`` — the
    batch-embedding building block (L1). Keeps every input column."""
    import pandas as pd

    fields = [f for f in df.schema.fields]
    schema = T.StructType(
        fields + [T.StructField(out_col, T.ArrayType(T.DoubleType()), True)]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            vecs = embedding(pdf[text_col].fillna("").tolist())
            pdf = pdf.copy()
            pdf[out_col] = vecs
            yield pdf

    return df.mapInPandas(run, schema=schema)


class SparkVectorLakeStore:
    """``VectorLakeStore`` parity: texts in, scored documents out."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        embedding: EmbedFn | None = None,
        dimension: int = 384,
        approx_shards: int = 10,
    ):
        self.spark = spark
        self.embedding = embedding or hashed_ngram_embedder(dimension)
        self.lake = SparkVectorLake(
            spark, location, dimension=dimension, approx_shards=approx_shards
        )

    def add_texts(
        self,
        texts: Sequence[str],
        metadatas: Sequence[dict] | None = None,
    ) -> list[str]:
        """L1: embed (executor-side) + ingest + persist; returns ids."""
        import json
        import uuid

        ids = [str(uuid.uuid4()) for _ in texts]
        metadatas = list(metadatas) if metadatas is not None else [{}] * len(texts)
        rows = [
            (ids[i], texts[i], json.dumps(metadatas[i] or {"id": "1"}, sort_keys=True))
            for i in range(len(texts))
        ]
        df = self.spark.createDataFrame(
            rows, "id string, document string, metadata string"
        )
        embedded = embed_texts_df(df, self.embedding, text_col="document")
        self.lake.add_dataframe(embedded)
        self.lake.persist()
        return ids

    @staticmethod
    def _filter_predicate(filter: dict | None):
        """LangChain ``filter`` dict → a Spark Column predicate over the
        JSON metadata column: equality on every key, AND-composed
        (the LangChain convention). Scalars only — JSON numbers and
        strings compare via their canonical text, booleans via
        true/false."""
        if not filter:
            return None
        from pyspark.sql import functions as F

        pred = None
        for key, val in sorted(filter.items()):
            field = F.get_json_object("metadata", f"$.{key}")
            if isinstance(val, bool):
                clause = field == ("true" if val else "false")
            elif isinstance(val, (int, float)):
                # numeric equality, not text: json.dumps(3.0) stores
                # "3.0" while str(3) is "3" — a text compare silently
                # matches nothing across int/float representations
                # (r06 review); casting the JSON text to double makes
                # 3, 3.0 and "3.0" all compare as numbers
                clause = field.cast("double") == float(val)
            elif isinstance(val, str):
                clause = field == val
            else:
                raise ValueError(
                    f"filter values must be scalars, got {type(val).__name__} "
                    f"for key {key!r}"
                )
            pred = clause if pred is None else (pred & clause)
        return pred

    def similarity_search(
        self,
        query: str,
        k: int = 4,
        n_probes: int = 2,
        filter: dict | None = None,
    ) -> list[dict]:
        """L2: embed the query, routed top-k, wrap as page_content/metadata
        dicts (the LangChain ``Document`` shape without the dependency).

        Defaults to 2 LSH probes: the reference probes a single shard
        (index.py:487-489), which silently misses near neighbors that hash
        across a hyperplane; multi-probe restores recall at the cost of one
        extra pruned partition read. ``filter`` is the LangChain metadata
        equality dict, applied as a pre-filter BELOW the top-k heap
        (store.query(where=...)) — results are exactly the qualifying
        top-k, never a post-filtered shortfall."""
        import json

        qv = self.embedding([query])[0]
        rows = self.lake.query(
            qv, k=k, n_probes=n_probes, where=self._filter_predicate(filter)
        ).collect()
        return [
            {
                "page_content": r["document"],
                "metadata": json.loads(r["metadata"]) if r["metadata"] else {},
                "score": r["score"],
            }
            for r in rows
        ]

    def similarity_search_with_score(
        self,
        query: str,
        k: int = 4,
        n_probes: int = 2,
        filter: dict | None = None,
    ) -> list[tuple[dict, float]]:
        """LangChain ``similarity_search_with_score`` surface: the same
        routed top-k, returned as (document, score) tuples with the
        document stripped of the score key — the shape scored-retrieval
        callers (re-rankers, threshold filters) expect. Score is cosine
        similarity in [-1, 1], higher = more similar (the store computes
        it anyway — ``store.py query()``; this just stops discarding
        it)."""
        out = []
        for d in self.similarity_search(
            query, k=k, n_probes=n_probes, filter=filter
        ):
            score = d.pop("score")
            out.append((d, score))
        return out

    def max_marginal_relevance_search(
        self,
        query: str,
        k: int = 4,
        fetch_k: int = 20,
        lambda_mult: float = 0.5,
        n_probes: int = 2,
        filter: dict | None = None,
    ) -> list[dict]:
        """MMR diversified retrieval (the LangChain ``VectorStore``
        surface beyond the reference's plain ``similarity_search``):
        fetch ``fetch_k`` routed candidates distributed, then run the
        greedy MMR selection driver-side over that bounded set —
        score = λ·sim(query, d) − (1−λ)·max_selected sim(d, s).
        Deterministic: ties break on id."""
        import json

        import numpy as np

        qv = np.asarray(self.embedding([query])[0], dtype=np.float64)
        rows = self.lake.query(
            qv.tolist(),
            k=fetch_k,
            n_probes=n_probes,
            where=self._filter_predicate(filter),
        ).collect()
        if not rows:
            return []
        # the STORED candidate vectors (query() carries them) — no extra
        # embedder calls, and MMR scores the same vectors that produced
        # the candidate ranking even for non-deterministic embedders
        V = np.stack([np.asarray(r["vector"], dtype=np.float64) for r in rows])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        U = V / norms[:, None]
        qn = qv / (np.linalg.norm(qv) or 1.0)
        rel = U @ qn
        ids = [r["id"] for r in rows]
        selected: list[int] = []
        remaining = list(range(len(rows)))
        while remaining and len(selected) < k:
            if selected:
                red = (U[remaining] @ U[selected].T).max(axis=1)
            else:
                red = np.zeros(len(remaining))
            mmr = lambda_mult * rel[remaining] - (1.0 - lambda_mult) * red
            # deterministic argmax: highest score, then lowest id
            best = min(
                range(len(remaining)), key=lambda j: (-mmr[j], ids[remaining[j]])
            )
            selected.append(remaining.pop(best))
        return [
            {
                "page_content": rows[i]["document"],
                "metadata": json.loads(rows[i]["metadata"]) if rows[i]["metadata"] else {},
                "score": rows[i]["score"],
            }
            for i in selected
        ]

    def delete(self, ids: Sequence[str]) -> bool:
        """LangChain ``VectorStore.delete`` surface (optional in the
        protocol; absent in the reference adapter): row-level removal via
        the store's shard-pruned ``delete_ids`` rewrite. Returns ``True``
        per the protocol's Optional[bool] success contract — deleting
        ids that are already absent is an idempotent success, NOT a
        falsy 0 (r05 review finding); callers wanting the rewrite count
        use ``store.lake.delete_ids`` directly. Repeated deletes leave
        touched shards fragmented into small files; batch them (delete
        many, then ``store.lake.compact()`` once)."""
        self.lake.delete_ids(list(ids))
        return True

    def get_by_ids(self, ids: Sequence[str]) -> list[dict]:
        """LangChain ``VectorStore.get_by_ids`` surface: fetch documents
        by id, Document-shaped. Input order is preserved; missing ids
        are skipped (the protocol's contract)."""
        import json

        want = list(ids)
        rows = {
            r["id"]: r
            for r in self.lake.load()
            .filter(F.col("id").isin(want))
            .collect()
        }
        return [
            {
                "id": i,
                "page_content": rows[i]["document"],
                "metadata": json.loads(rows[i]["metadata"])
                if rows[i]["metadata"]
                else {},
            }
            for i in want
            if i in rows
        ]

    async def aadd_texts(
        self,
        texts: Sequence[str],
        metadatas: Sequence[dict] | None = None,
    ) -> list[str]:
        """Async L3 parity (reference langchain/__init__.py:69-76): the
        same ``asyncio.to_thread`` shim — Spark jobs are synchronous, so
        async here means "don't block the caller's event loop", exactly
        the reference's semantics."""
        import asyncio

        return await asyncio.to_thread(self.add_texts, texts, metadatas)

    @classmethod
    def from_texts(
        cls,
        spark: SparkSession,
        location: str,
        texts: Sequence[str],
        metadatas: Sequence[dict] | None = None,
        **kwargs,
    ) -> "SparkVectorLakeStore":
        """L3 constructor parity."""
        store = cls(spark, location, **kwargs)
        store.add_texts(texts, metadatas)
        return store

    @classmethod
    async def afrom_texts(
        cls,
        spark: SparkSession,
        location: str,
        texts: Sequence[str],
        metadatas: Sequence[dict] | None = None,
        **kwargs,
    ) -> "SparkVectorLakeStore":
        """Async constructor parity (reference langchain/__init__.py:
        106-116)."""
        import asyncio

        return await asyncio.to_thread(
            cls.from_texts, spark, location, texts, metadatas, **kwargs
        )
