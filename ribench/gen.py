"""Seeded, hermetic inputs for the benchmark.

Everything the benchmark feeds the engine is made here from one integer
seed, with no file read from outside the checkout:

- ``write_catalog_tables``: the ten parquet tables the catalog queries read
  (a TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), in the layout ``__spark_entry__.queries()`` expects.
- ``write_graph_preload``: an existing research-index graph (outputs,
  authors, author_of, countries, refers_to) written directly as parquet.
- ``make_batches``: DOI list files plus the OpenAire v2 / OpenAlex response
  for every DOI they name, and the scorecard and table growth the engine
  must report for each batch.

The same seed always gives byte-identical files (tested in
``ribench/tests``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")

# row counts of the smallest committed test scale (lineitem ~6,000 rows)
CATALOG_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
                "lineitem": 6000, "events": 1000, "documents": 500,
                "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small sort "
              "spark stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_arrays(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables as Arrow tables, drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = CATALOG_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, np_),
                                              rng.choice(_PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": [round(900 + (k % 1000) / 10, 1) for k in range(np_)]})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist()})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US)})
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(ne // 67, 1), ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.gamma(2.0, 40.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup rows
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS,
                                              int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_catalog_tables(seed: int, out_dir: Path) -> Path:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in catalog_arrays(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir


# ---------------------------------------------------------------------------
# ingest inputs
# ---------------------------------------------------------------------------

# No name below is a substring of another, so case-sensitive containment
# tagging matches exactly the countries a text was built with.
COUNTRIES = [
    ("KEN", "Kenya"), ("LBR", "Liberia"), ("GHA", "Ghana"), ("MWI", "Malawi"),
    ("ZMB", "Zambia"), ("UGA", "Uganda"), ("RWA", "Rwanda"),
    ("NAM", "Namibia"), ("BWA", "Botswana"), ("ETH", "Ethiopia"),
    ("TZA", "Tanzania"), ("SEN", "Senegal"), ("BEN", "Benin"),
    ("NPL", "Nepal"), ("CHL", "Chile"), ("PER", "Peru"), ("LAO", "Laos"),
    ("BOL", "Bolivia"), ("VNM", "Vietnam"), ("MNG", "Mongolia")]
_FIRST_NAMES = ("Amara Bruno Chidi Dalia Emeka Farah Goran Hana Ines Jonas "
                "Kofi Lina Marta Nuno Oyelaran Pavla Quinn Rafa Sade Tomas "
                "Uzma Vera Wanjiru Ximena Yusuf Zora").split()
_TEXT_WORDS = ("energy access model grid solar planning policy scenario "
               "demand supply transition electricity rural cost capacity "
               "pathway investment emissions storage hydro").split()
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
DOI_PREFIX = "10.5281/zenodo."
BATCH_LINES = 50   # the reference CLI's default -l


def _surname(k: int) -> str:
    """A distinct letters-only surname for every k (bijective base 26)."""
    s = ""
    k += 26 * 27  # at least three letters
    while k:
        k, r = divmod(k - 1, 26)
        s = _LETTERS[r] + s
    return s.capitalize()


def _person(rng: np.random.Generator, k: int, with_orcid: bool) -> "Person":
    """Person number k. No first name and surname contain one another, so
    the parser's mutual-substring repair never rewrites them."""
    last = _surname(k)
    while True:
        first = str(rng.choice(_FIRST_NAMES))
        if first not in last and last not in first:
            break
    return Person(first, last, _orcid(k) if with_orcid else None)


def _orcid(k: int) -> str:
    return f"0000-0002-{k // 10000 % 10000:04d}-{k % 10000:04d}"


def _text(rng: np.random.Generator, countries: list[str]) -> str:
    words = list(rng.choice(_TEXT_WORDS, int(rng.integers(6, 14))))
    for c in countries:
        words.insert(int(rng.integers(0, len(words) + 1)), c)
    return " ".join(words)


def _pick_countries(rng: np.random.Generator) -> list[str]:
    k = int(rng.choice([0, 1, 1, 2]))
    return [COUNTRIES[i][1] for i in rng.choice(len(COUNTRIES), k,
                                                replace=False)]


def _tags(title: str, abstract: str) -> set[str]:
    return {cid for cid, name in COUNTRIES if name in title or name in abstract}


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


@dataclass
class Person:
    first: str
    last: str
    orcid: str | None  # bare id, no URL

    @property
    def uuid(self) -> str:
        return _sha(self.first + "|" + self.last)

    @property
    def orcid_url(self) -> str | None:
        return None if self.orcid is None else "https://orcid.org/" + self.orcid


@dataclass
class GraphPreload:
    """Sizes of the preloaded graph, and the people in it."""
    outputs: int
    authors: list[Person]
    author_of: int
    refers_to: int
    next_doi: int           # first DOI number not in the graph
    next_person: int        # first person number not in the graph


def write_graph_preload(seed: int, data_dir: Path, n_outputs: int = 10_000,
                        n_authors: int = 3_000) -> GraphPreload:
    """Write the graph tables a deployment would already hold: ~10^4
    outputs, ~3x10^3 authors (a third with an ORCID), their author_of
    edges, the countries table and refers_to edges that agree with the
    engine's own containment tagging."""
    rng = np.random.default_rng([seed, 2])
    data_dir.mkdir(parents=True, exist_ok=True)
    people = [_person(rng, k, k % 3 == 0) for k in range(n_authors)]
    dois = [f"{DOI_PREFIX}{i}" for i in range(n_outputs)]
    titles, abstracts = [], []
    for _ in range(n_outputs):
        titles.append(_text(rng, _pick_countries(rng)))
        abstracts.append(_text(rng, _pick_countries(rng)))
    uuids = [_sha(d) for d in dois]
    years = rng.integers(2015, 2025, n_outputs)
    outputs = pa.table({
        "uuid": uuids, "doi": dois, "title": titles, "abstract": abstracts,
        "journal": [""] * n_outputs,
        "issue": pa.nulls(n_outputs, pa.int32()),
        "volume": pa.nulls(n_outputs, pa.int32()),
        "publication_year": pa.array(years, pa.int32()),
        "publication_month": pa.array(rng.integers(1, 13, n_outputs), pa.int32()),
        "publication_day": pa.array(rng.integers(1, 29, n_outputs), pa.int32()),
        "publisher": ["Zenodo"] * n_outputs,
        "result_type": ["publication"] * n_outputs,
        "resource_type": ["Article"] * n_outputs,
        "openalex": [f"https://openalex.org/W{i}" for i in range(n_outputs)],
        "cited_by_count": pa.array(rng.integers(0, 50, n_outputs), pa.int32()),
        "cited_by_count_date": pa.array([2026] * n_outputs, pa.int32()),
        "counts_by_year": pa.nulls(n_outputs, pa.map_(pa.int32(), pa.int32())),
    })
    authors = pa.table({
        "uuid": [p.uuid for p in people],
        "first_name": [p.first for p in people],
        "last_name": [p.last for p in people],
        "orcid": [p.orcid_url for p in people],
        "openalex": pa.nulls(n_authors, pa.string()),
        "rank": pa.nulls(n_authors, pa.int32())})
    a_src, a_dst, a_rank = [], [], []
    for i in range(n_outputs):
        for r, k in enumerate(rng.choice(n_authors, int(rng.integers(1, 5)),
                                         replace=False), start=1):
            a_src.append(people[k].uuid)
            a_dst.append(uuids[i])
            a_rank.append(r)
    author_of = pa.table({"author_uuid": a_src, "output_uuid": a_dst,
                          "rank": pa.array(a_rank, pa.int32())})
    r_out, r_cty = [], []
    for i in range(n_outputs):
        for cid in sorted(_tags(titles[i], abstracts[i])):
            r_out.append(uuids[i])
            r_cty.append(cid)
    refers_to = pa.table({"output_uuid": r_out, "country_id": r_cty})
    countries = pa.table({
        "id": [c for c, _ in COUNTRIES], "name": [n for _, n in COUNTRIES],
        "official_name": [f"Republic of {n}" for _, n in COUNTRIES],
        "dbpedia": [n.replace(" ", "_") for _, n in COUNTRIES],
        "latitude": np.round(rng.uniform(-30, 30, len(COUNTRIES)), 2),
        "longitude": np.round(rng.uniform(-80, 110, len(COUNTRIES)), 2)})
    for name, table in (("outputs", outputs), ("authors", authors),
                        ("author_of", author_of), ("refers_to", refers_to),
                        ("countries", countries)):
        (data_dir / name).mkdir(exist_ok=True)
        pq.write_table(table, data_dir / name / "part-00000.parquet")
    return GraphPreload(n_outputs, people, len(a_src), len(r_out),
                        next_doi=n_outputs, next_person=n_authors)


@dataclass
class Batch:
    """One DOI list file, the responses the transport serves for it, and
    what the engine must report after ingesting it."""
    lines: list[str]
    responses: dict[tuple[str, str], tuple[int, str]]  # (source, doi) ->
    failing: set[tuple[str, str]]                      # ... and the failures
    scorecard: dict[str, int]
    new_outputs: int
    new_authors: int
    new_author_of: int
    new_refers_to: int
    parsed_authors: int


def _openaire_body(doi: str, title: str, abstract: str,
                   authors: list[dict]) -> str:
    return json.dumps({
        "header": {"numFound": 1, "page": 1, "pageSize": 10, "queryTime": 3},
        "results": [{
            "id": "doi_dedup___::" + _sha(doi)[:32],
            "mainTitle": title, "descriptions": [abstract],
            "authors": authors, "publisher": "Zenodo",
            "publicationDate": "2023-05-17", "type": "publication",
            "resourcetype": {"@classid": "0001", "@classname": "Article",
                             "@schemeid": "dnet:publication_resource",
                             "@schemename": "dnet:publication_resource"},
            "pids": [{"id": {"scheme": "doi", "value": doi},
                      "provenance": None}]}]})


def make_batches(seed: int, preload: GraphPreload, n: int) -> list[Batch]:
    """``n`` DOI batches of ``BATCH_LINES`` lines each.

    Every batch mixes, in shuffled line order: new DOIs (some written with
    a ``https://doi.org/`` prefix), DOIs already in the graph, duplicate
    lines and invalid lines. Among the new DOIs some OpenAire calls fail
    (HTTP 500, an ``error`` payload or empty results) and some OpenAlex
    calls return 404. Authors on the new outputs recur by ORCID (same ORCID
    and name as a preloaded author), recur by name only (no ORCID, same
    initial and surname), or are new people seen nowhere else."""
    rng = np.random.default_rng([seed, 3])
    next_doi, next_person = preload.next_doi, preload.next_person
    orcid_people = [p for p in preload.authors if p.orcid is not None]
    plain_people = [p for p in preload.authors if p.orcid is None]
    batches = []
    for _ in range(n):
        n_new = int(rng.integers(36, 41))
        n_old = int(rng.integers(3, 6))
        n_bad = int(rng.integers(2, 4))
        n_dup = BATCH_LINES - n_new - n_old - n_bad
        new = [f"{DOI_PREFIX}{next_doi + i}" for i in range(n_new)]
        next_doi += n_new
        old = [f"{DOI_PREFIX}{int(i)}"
               for i in rng.choice(preload.outputs, n_old, replace=False)]
        bad = [f"{rng.choice(['not-a-doi-', '10.5281zenodo.', 'doi:none/'])}"
               f"{next_doi}{i}" for i in range(n_bad)]
        dup = [str(d) for d in rng.choice(new + old + bad, n_dup,
                                          replace=False)]
        written = {d: ("https://doi.org/" + d if rng.random() < 0.2 else d)
                   for d in new}
        lines = [written.get(d, d) for d in new + old + bad + dup]
        lines = [lines[i] for i in rng.permutation(len(lines))]

        responses, failing = {}, set()
        ok_aire = ok_alex = 0
        n_authors = new_people = author_of = refers_to = 0
        for d in new:
            fate = rng.random()
            if fate < 0.04:
                responses["openaire", d] = (500, "upstream failure")
            elif fate < 0.07:
                responses["openaire", d] = (
                    200, json.dumps({"error": "record withdrawn"}))
            elif fate < 0.10:
                responses["openaire", d] = (
                    200, json.dumps({"header": {"numFound": 0}, "results": []}))
            else:
                people: list[tuple[Person, bool]] = []
                for _ in range(int(rng.integers(1, 5))):
                    kind = rng.random()
                    if kind < 0.3:
                        people.append((orcid_people[int(rng.integers(
                            0, len(orcid_people)))], True))
                    elif kind < 0.55:
                        people.append((plain_people[int(rng.integers(
                            0, len(plain_people)))], False))
                    else:
                        k = next_person
                        next_person += 1
                        people.append((_person(rng, k, k % 2 == 1), True))
                        new_people += 1
                # one person per author list: duplicates would collapse
                seen, authors = set(), []
                for p, with_orcid in people:
                    if p.last in seen:
                        continue
                    seen.add(p.last)
                    a = {"fullName": f"{p.first} {p.last}", "name": p.first,
                         "surname": p.last, "rank": str(len(authors) + 1)}
                    if with_orcid and p.orcid is not None:
                        a["pid"] = {"id": {"scheme": "orcid",
                                           "value": p.orcid},
                                    "provenance": None}
                    authors.append(a)
                title = _text(rng, _pick_countries(rng))
                abstract = _text(rng, _pick_countries(rng))
                responses["openaire", d] = (
                    200, _openaire_body(d, title, abstract, authors))
                ok_aire += 1
                n_authors += len(authors)
                author_of += len(authors)
                refers_to += len(_tags(title, abstract))
            if fate < 0.10:
                failing.add(("openaire", d))
            if rng.random() < 0.08:
                responses["openalex", d] = (404, "not found")
                failing.add(("openalex", d))
            else:
                responses["openalex", d] = (200, json.dumps({
                    "id": f"https://openalex.org/W{90_000_000 + next_doi}",
                    "cited_by_count": int(rng.integers(0, 40))}))
                ok_alex += 1

        distinct = set(new) | set(old) | set(bad)
        counts = {d: 0 for d in distinct}
        for d in new + old + bad + dup:
            counts[d] += 1
        n_proc = len(new)
        scorecard = {
            "submitted_dois": BATCH_LINES,
            "duplicated_submissions": sum(c > 1 for c in counts.values()),
            "processed_dois": n_proc, "new_dois": n_proc,
            "existing_dois": len(old), "updated_existing_dois": 0,
            "ingested_dois": ok_aire, "metadata_pass": ok_aire,
            "metadata_failure": n_proc - ok_aire,
            "valid_pattern_dois": len(new) + len(old),
            "invalid_pattern_dois": len(bad),
            "openalex_success": ok_alex, "openaire_success": ok_aire}
        batches.append(Batch(lines, responses, failing, scorecard,
                             new_outputs=ok_aire, new_authors=new_people,
                             new_author_of=author_of,
                             new_refers_to=refers_to,
                             parsed_authors=n_authors))
    return batches
