"""Seeded input generators for the benchmark.

The program receives only what these functions write: envelope pages in the
feeder's one-page-per-file JSON-lines format, and a ``documents.parquet``
corpus shaped like the sf test data's documents table. Everything is drawn from
``random.Random(seed)``, so one seed always gives the same bytes.
"""

from __future__ import annotations

import itertools
import json
import os
import random

from spark_streaming_project_spark.sources.fixtures import make_envelopes

PAGE_SIZE = 100  # products per envelope page (Producer.scala batchLength)

# Long-tail tag vocabularies: complete-mode state keeps growing during a run
# instead of saturating at a handful of keys. Sizes are recorded in
# BENCHMARK.json and LAYERS.md; change them together.
VOCAB_SIZES = {"brands": 3000, "categories": 2000, "packaging": 1000, "additives": 1000}
ZIPF_S = 1.1

GRADES = ["a", "B", "c", "D", "e", "unknown", "not-applicable", "", None]
CATEGORY_SENTINELS = ["en:undefined", "null", ""]
LANG_PREFIXES = ["en", "fr", "de", "es"]
NOVA = [
    "en:1-unprocessed-or-minimally-processed-foods",
    "en:2-processed-culinary-ingredients",
    "en:3-processed-foods",
    "en:4-ultra-processed-food-and-drink-products",
    "en:not-applicable",
]
NAME_LANGS = ["en", "fr", "de"]
WORDS = ["choco", "bar", "juice", "bio", "crunchy", "lite", "max", "zero"]


class _TagPool:
    """Zipf-weighted draws from ``size`` prefixed tags (``en:brands-17``)."""

    def __init__(self, rng: random.Random, kind: str, size: int) -> None:
        self.tags = [f"{rng.choice(LANG_PREFIXES)}:{kind}-{i}" for i in range(size)]
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(size)))

    def draw(self, rng: random.Random, k: int = 1) -> list[str]:
        return rng.choices(self.tags, cum_weights=self.cum, k=k)


class ProductGenerator:
    """Products with the fixture's edge cases over long-tail vocabularies:
    sentinel and mixed-case grades, NULL vs empty arrays, missing ``main``
    names, sentinel category tags and absent nutriments."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.pools = {k: _TagPool(self.rng, k, n) for k, n in VOCAB_SIZES.items()}
        self.count = 0

    def _tags(self, kind: str, k: int = 1) -> list[str]:
        return self.pools[kind].draw(self.rng, k)

    def product(self) -> dict:
        rng, i = self.rng, self.count
        self.count += 1
        names = []
        if rng.random() > 0.1:  # 10% lack a 'main' name entry
            names.append({"lang": "main", "text": f"{rng.choice(WORDS)}-{i}"})
        for lang in rng.sample(NAME_LANGS, rng.randint(0, 2)):
            names.append({"lang": lang, "text": f"{rng.choice(WORDS)}-{lang}"})
        nutriments = [{"name": "energy_100g", "value": round(rng.uniform(0, 2000), 1)}]
        if rng.random() > 0.15:
            nutriments.append({"name": "sugars", "value": round(rng.uniform(0, 80), 2)})
        r = rng.random()
        if r < 0.05:
            categories = None
        elif r < 0.10:
            categories = []
        elif r < 0.15:
            categories = [rng.choice(CATEGORY_SENTINELS), *self._tags("categories")]
        else:
            categories = self._tags("categories", rng.randint(1, 3))
        r = rng.random()
        additives = (
            None if r < 0.1 else [] if r < 0.3 else self._tags("additives", rng.randint(1, 6))
        )
        return {
            "nutriscore_grade": rng.choice(GRADES),
            "categories_tags": categories,
            "nutriments": nutriments,
            "product_name": names,
            "packaging_tags": self._tags("packaging") if rng.random() > 0.2 else [],
            "brands_tags": self._tags("brands") if rng.random() > 0.1 else None,
            "additives_tags": additives,
            "nova_groups_tags": [rng.choice(NOVA)] if rng.random() > 0.15 else [],
        }

    def page(self) -> tuple[list[dict], str]:
        """One envelope page: (products, feeder file line)."""
        products = [self.product() for _ in range(PAGE_SIZE)]
        (body,) = make_envelopes(products, PAGE_SIZE)
        return products, json.dumps({"value": body}) + "\n"


def write_page(out_dir: str, index: int, line: str) -> str:
    """Write one page file the way the feeder does: temp file, then an
    atomic rename, so a tailing file source never lists a partial file."""
    tmp = os.path.join(out_dir, f".page-{index:06d}.json.tmp")
    final = os.path.join(out_dir, f"page-{index:06d}.json")
    with open(tmp, "w") as f:
        f.write(line)
    os.rename(tmp, final)
    return final


DOC_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query filter "
    "order group big stream vector"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


DUP_EVERY = 8  # every 8th document is a near-dup: graph size does not vary by seed


def make_documents(seed: int, n_docs: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows in the sf test-data
    shape: 10-100 words over a 30-word vocabulary, plus planted near-dups
    (a copy of an earlier document with one word in twenty changed) so the
    near-dup graph has pairs, chains and small components. Where the dups
    sit is fixed; which document each copies is drawn from the seed."""
    rng = random.Random(seed)
    texts: list[list[str]] = []
    rows = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            words = list(texts[rng.randrange(max(0, i - 2 * DUP_EVERY), i)])
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
        else:
            words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100))]
        texts.append(words)
        text = " ".join(words)
        rows.append((i, text, rng.choice(DOC_LANGS), f"src{i % 20}", len(text)))
    return rows


def write_documents(sf_dir: str, seed: int, n_docs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = make_documents(seed, n_docs)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
