"""Seeded SSSOM repository for ``mapping_export``, built with numpy and
pandas.

Nothing here calls the program under test, so a change to the program
cannot change its own inputs. :func:`write_sssom_repository` writes the
four-file repository (positive, negative, predicted, unsure).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

__all__ = ["RepositoryScale", "write_sssom_repository", "REPOSITORY_PREFIX_MAP"]

#: Prefix map written into every file's header (first-wins chaining makes
#: the merged map equal to this one).
REPOSITORY_PREFIX_MAP = {
    "CHEBI": "http://purl.obolibrary.org/obo/CHEBI_",
    "DOID": "http://purl.obolibrary.org/obo/DOID_",
    "MONDO": "http://purl.obolibrary.org/obo/MONDO_",
    "UBERON": "http://purl.obolibrary.org/obo/UBERON_",
    "mesh": "http://id.nlm.nih.gov/mesh/",
    "wikidata": "http://www.wikidata.org/entity/",
    "orcid": "https://orcid.org/",
    "semapv": "https://w3id.org/semapv/vocab/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}
_ENTITY_PREFIXES = ["CHEBI", "DOID", "MONDO", "UBERON", "mesh", "wikidata"]
_AUTHORS = np.array([f"orcid:0000-0003-{i:04d}-{(7 * i) % 10000:04d}" for i in range(1, 9)])
_JUSTIFICATIONS = np.array(
    ["semapv:ManualMappingCuration", "semapv:LexicalMatching", "semapv:SemanticSimilarityThresholdMatching"]
)
_PREDICATES = np.array(["skos:exactMatch", "skos:exactMatch", "skos:exactMatch", "skos:broadMatch"])

#: The hub CURIE that appears as the object of ~2% of positive mappings.
HUB_CURIE = "mesh:D000001"


@dataclass(frozen=True)
class RepositoryScale:
    """Rows per repository file, in the 20 : 2 : 10 : 1 proportion of a
    curated repository (positives dominate, unsure is rare)."""

    positive: int

    def rows(self) -> dict[str, int]:
        p = self.positive
        return {"positive": p, "negative": p // 10, "predicted": p // 2, "unsure": p // 20}


def _mapping_rows(rng: np.random.Generator, n: int, status: str, id_space: int) -> pd.DataFrame:
    sp = rng.integers(0, len(_ENTITY_PREFIXES), n)
    op = (sp + rng.integers(1, len(_ENTITY_PREFIXES), n)) % len(_ENTITY_PREFIXES)
    prefixes = np.array(_ENTITY_PREFIXES)
    subject = np.char.add(np.char.add(prefixes[sp], ":"), np.char.zfill(rng.integers(0, id_space, n).astype(str), 7))
    obj = np.char.add(np.char.add(prefixes[op], ":"), np.char.zfill(rng.integers(0, id_space, n).astype(str), 7))
    if status == "positive":
        obj = np.where(rng.random(n) < 0.02, HUB_CURIE, obj)
    predicate = rng.choice(_PREDICATES, n)
    modifier = np.where(rng.random(n) < (0.5 if status == "negative" else 0.0), "Not", "")
    authors = np.where(
        rng.random(n) < 0.2,
        np.char.add(np.char.add(rng.choice(_AUTHORS, n), "|"), rng.choice(_AUTHORS, n)),
        rng.choice(_AUTHORS, n),
    )
    df = pd.DataFrame(
        {
            "subject_id": subject,
            "subject_label": np.char.add("term ", subject),
            "predicate_id": predicate,
            "predicate_modifier": modifier,
            "object_id": obj,
            "object_label": np.char.add("term ", obj),
            "mapping_justification": rng.choice(_JUSTIFICATIONS, n),
            "author_id": authors,
            "mapping_date": "2026-05-08",
            "confidence": np.round(rng.uniform(0.5, 1.0, n), 3),
        }
    )
    # ~1% exact duplicate rows, which the linting writer must drop
    dups = df.sample(frac=0.01, random_state=int(rng.integers(0, 2**31)))
    return pd.concat([df, dups], ignore_index=True)


def _header() -> str:
    lines = ["#curie_map:"]
    lines += [f"#  {p}: {u}" for p, u in sorted(REPOSITORY_PREFIX_MAP.items())]
    lines.append("#mapping_set_id: https://example.org/benchmark.sssom.tsv")
    return "\n".join(lines) + "\n"


def write_sssom_repository(out_dir: str, seed: int, scale: RepositoryScale) -> dict[str, str]:
    """Write ``<status>.sssom.tsv`` for the four states; return their paths.

    Node ids come from a space 0.6× the positive count per prefix, so the
    positive graph is a forest of small components plus the hub's
    component. A slice of the predicted rows repeats positive rows with a
    new confidence, so the canonical-key dedup has cross-file work to do.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    id_space = max(10, int(scale.positive * 0.6))
    frames = {
        status: _mapping_rows(rng, n, status, id_space) for status, n in scale.rows().items()
    }
    overlap = frames["positive"].sample(
        frac=0.05, random_state=int(rng.integers(0, 2**31))
    ).assign(confidence=0.77)
    frames["predicted"] = pd.concat([frames["predicted"], overlap], ignore_index=True)
    paths = {}
    for status, df in frames.items():
        path = os.path.join(out_dir, f"{status}.sssom.tsv")
        with open(path, "w", encoding="utf-8") as handle:
            handle.write(_header())
            df.to_csv(handle, sep="\t", index=False)
        paths[status] = path
    return paths
