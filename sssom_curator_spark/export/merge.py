"""Merge export (SURVEY.md S6/U1/U5/C5): union → standardize → subset map →
canonical TSV, JSON or OWL.

Reference lifecycle (export/merge.py:24-158): union the four files in file
order, bioregistry-standardize prefixes (``chebi`` → ``CHEBI``,
tests/test_merge.py:109-133), subset the prefix map to used prefixes, and
write a sorted TSV with metadata header. Here the union/standardize/
used-prefix steps are DataFrame algebra, linted and checkpointed in one
job (:func:`_export_plan`) that all three sinks stream from; only the tiny
prefix map and the single-file serialization touch the driver.
"""

from __future__ import annotations

import datetime
import json
import os
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from sssom_curator_spark.functions.curie_ops import curie_prefix
from sssom_curator_spark.io.sssom_tsv import (
    _lint_checkpoint,
    _write_tsv,
    render_metadata_header,
    standardize_frame,
)
from sssom_curator_spark.operators.relational import merge_repository

__all__ = ["merge_to_tsv", "merge_to_json", "merge_to_owl"]


_CURIE_COLUMNS = (
    "subject_id",
    "object_id",
    "predicate_id",
    "mapping_justification",
    "mapping_tool_id",
)


def _prefix_set() -> Column:
    """Aggregate: the sorted distinct non-empty prefixes of every
    CURIE-carrying column (U5, export/merge.py:155-156)."""
    row = F.concat(
        F.array(*map(curie_prefix, _CURIE_COLUMNS)),
        F.transform(F.coalesce("author_id", F.array()), curie_prefix),
        F.transform(F.coalesce("reviewer_id", F.array()), curie_prefix),
    )
    used = F.filter(row, lambda p: p.isNotNull() & (p != ""))
    return F.array_sort(F.array_distinct(F.flatten(F.collect_set(used))))


def _export_plan(
    frames: dict[str, DataFrame],
    prefix_map: dict[str, str],
    alias_map: dict[str, str] | None,
) -> tuple[DataFrame, list[str], dict[str, str]]:
    """The linted merge every sink serializes, in one checkpoint job.

    Unions the repository files, standardizes prefixes, lints (sort +
    dedup) and checkpoints the rows. The used-prefix set is observed on
    the merged rows before the dedup, inside that same job, so the prefix
    map subset costs no job of its own. Returns ``(checkpointed rows,
    serialized columns, prefix map subset)``.
    """
    merged = merge_repository(frames).drop("status")
    if alias_map:
        merged = standardize_frame(merged, alias_map)
    obs = Observation()
    merged = merged.observe(obs, _prefix_set().alias("p"))
    frame, columns = _lint_checkpoint(merged, sort=True, drop_duplicates=True)
    used = set(obs.get["p"])
    return frame, columns, {p: u for p, u in prefix_map.items() if p in used}


def merge_to_tsv(
    frames: dict[str, DataFrame],
    path: str,
    *,
    prefix_map: dict[str, str],
    alias_map: dict[str, str] | None = None,
    metadata: dict[str, Any] | None = None,
) -> list[str]:
    """Full merge export. Returns serialized columns."""
    frame, columns, sub_map = _export_plan(frames, prefix_map, alias_map)
    _write_tsv(frame, columns, path, render_metadata_header(sub_map, metadata))
    return columns


def _json_value(value: Any) -> Any:
    if isinstance(value, (datetime.date, datetime.datetime)):
        return value.isoformat()
    return value


def _iter_mappings(frame: DataFrame, columns: list[str]):
    """The checkpointed rows of :func:`_export_plan` as plain dicts
    (non-null, TSV column order, record_id excluded — reference excludes
    unset fields via ``model_dump(exclude_none=True)``,
    export/merge.py:20-21).

    A GENERATOR over ``toLocalIterator``: the driver holds one partition
    of rows at a time, never the merged set. JSON/OWL merge artifacts are
    single driver-side files by nature (the reference streams them
    through sssom-py, export/merge.py:88-121) and curated repositories
    are usually human-scale — but the reference's largest advertised
    input is SeMRA's 43.4M mappings (reference
    repository.py:941-996), where a full ``collect()`` of row dicts
    would exhaust the driver; the sinks below therefore serialize
    incrementally and only ACCUMULATE when the caller asks for the
    in-memory document back (``return_document=True``, the human-scale
    convenience default). Corpus-scale outputs go through the
    TSV/Iceberg sinks.
    """
    for row in frame.select(*columns).toLocalIterator(prefetchPartitions=True):
        d = {}
        for c in columns:
            v = row[c]
            if v is None or (isinstance(v, list) and not v):
                continue
            d[c] = _json_value(v)
        yield d


def _json_fragment(obj: Any, base_indent: int) -> str:
    """``json.dumps`` fragment re-indented to sit at ``base_indent``."""
    s = json.dumps(obj, indent=2, sort_keys=True, ensure_ascii=False)
    return s.replace("\n", "\n" + " " * base_indent)


def merge_to_json(
    frames: dict[str, DataFrame],
    path: str,
    *,
    prefix_map: dict[str, str],
    alias_map: dict[str, str] | None = None,
    metadata: dict[str, Any] | None = None,
    return_document: bool = True,
) -> dict[str, Any] | None:
    """S6 JSON merge sink (reference export/merge.py:112-117 delegates to
    sssom-py ``write_json``; sssom-py is not in this container, so the
    document structure — mapping-set metadata + ``curie_map`` + a
    ``mappings`` list of non-null field dicts — is emitted directly,
    deterministically: sorted keys, canonical mapping order).

    The file is serialized INCREMENTALLY — one mapping dict crosses the
    driver at a time (see :func:`_iter_mappings`; SeMRA-scale inputs are
    43.4M mappings). With ``return_document=True`` (default, the
    human-scale convenience) the document is also accumulated and
    returned; pass ``False`` at scale to keep driver memory bounded and
    get ``None`` back.
    """
    frame, columns, sub_map = _export_plan(frames, prefix_map, alias_map)
    head: dict[str, Any] = {
        **{k: _json_value(v) for k, v in sorted((metadata or {}).items())},
        "curie_map": dict(sorted(sub_map.items())),
    }
    collected: list[dict[str, Any]] | None = [] if return_document else None
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w", encoding="utf-8") as handle:
        handle.write("{")
        first_key = True
        for key in sorted({*head, "mappings"}):
            handle.write("\n" if first_key else ",\n")
            first_key = False
            handle.write(f"  {json.dumps(key, ensure_ascii=False)}: ")
            if key != "mappings":
                handle.write(_json_fragment(head[key], 2))
                continue
            handle.write("[")
            first_row = True
            for m in _iter_mappings(frame, columns):
                handle.write("\n    " if first_row else ",\n    ")
                first_row = False
                handle.write(_json_fragment(m, 4))
                if collected is not None:
                    collected.append(m)
            handle.write("]" if first_row else "\n  ]")
        handle.write("\n}\n")
    if collected is None:
        return None
    return {**head, "mappings": collected}


#: Prefixes the OWL serializer itself introduces (annotation properties and
#: typed literals) — always declared, whether or not a mapping CURIE uses
#: them, so the functional-syntax document never references an undeclared
#: prefix.
_OWL_SERIALIZER_PREFIXES = {
    "sssom": "https://w3id.org/sssom/",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


def _owl_literal(value: Any) -> str:
    """Escape a literal for OWL functional syntax: backslash and double
    quote are the only characters that break the quoted form."""
    return str(value).replace("\\", "\\\\").replace('"', '\\"')


#: SSSOM slot → annotation property CURIE for the OWL rendering.
_OWL_SLOT_PREDICATES = {
    "mapping_justification": "sssom:mapping_justification",
    "confidence": "sssom:confidence",
    "predicate_modifier": "sssom:predicate_modifier",
    "mapping_tool": "sssom:mapping_tool",
    "mapping_date": "sssom:mapping_date",
    "author_id": "sssom:author_id",
    "reviewer_id": "sssom:reviewer_id",
}


def merge_to_owl(
    frames: dict[str, DataFrame],
    path: str,
    *,
    prefix_map: dict[str, str],
    alias_map: dict[str, str] | None = None,
    ontology_iri: str = "https://example.org/mappings.sssom.owl",
    return_document: bool = True,
) -> str | None:
    """S6 OWL merge sink (reference export/merge.py:118-121 delegates to
    sssom-py ``write_owl``). Emitted here as deterministic OWL 2
    functional-style syntax: one ``AnnotationAssertion`` per mapping with
    the SSSOM slots reified as axiom annotations — the same semantic
    content sssom-py serializes, in a stable, diffable rendering.

    Axioms are written INCREMENTALLY, one mapping crossing the driver at
    a time (see :func:`_iter_mappings`). Returns the document text
    (``return_document=True``, default) or ``None`` when the caller opts
    out of driver-side accumulation at SeMRA scale.
    """
    frame, columns, sub_map = _export_plan(frames, prefix_map, alias_map)
    declared = {**_OWL_SERIALIZER_PREFIXES, **sub_map}

    def lines():
        for p, u in sorted(declared.items()):
            yield f"Prefix({p}:=<{u}>)"
        yield f"Ontology(<{ontology_iri}>"
        for m in _iter_mappings(frame, columns):
            annotations = []
            for slot, pred in _OWL_SLOT_PREDICATES.items():
                v = m.get(slot)
                if v is None:
                    continue
                if isinstance(v, list):
                    for item in v:
                        annotations.append(f'Annotation({pred} "{_owl_literal(item)}")')
                elif isinstance(v, float):
                    annotations.append(f'Annotation({pred} "{v!r}"^^xsd:double)')
                else:
                    annotations.append(f'Annotation({pred} "{_owl_literal(v)}")')
            ann = (" ".join(annotations) + " ") if annotations else ""
            yield (
                f"AnnotationAssertion({ann}{m['predicate_id']} "
                f"{m['subject_id']} {m['object_id']})"
            )
        yield ")"

    kept: list[str] | None = [] if return_document else None
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w", encoding="utf-8") as handle:
        for line in lines():
            handle.write(line + "\n")
            if kept is not None:
                kept.append(line)
    if kept is None:
        return None
    return "\n".join(kept) + "\n"
