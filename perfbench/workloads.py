"""The benchmark's workloads: seeded inputs, one op each, and output checks
that do not trust the engine.

Each workload is built from ``(spark, seed, work_dir)``. Input generation
happens in the constructor and is not timed. ``op(k)`` is the timed call
through the package's public API; ``observed(k, out)`` reads the op's
output back without Spark and ``expected(k)`` computes what it must be in
pure Python. ``check`` compares the two.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


class OutputMismatch(AssertionError):
    """The op's output differs from the engine-independent expectation."""


def multiset_digest(rows) -> tuple[int, str]:
    """Order-independent digest of a multiset of tuples: row count plus
    the sum of per-row md5 prefixes modulo 2**64 (a sum, not an xor, so
    a duplicated row is not cancelled out)."""
    total = 0
    n = 0
    for row in rows:
        key = "\x1f".join("\x00" if v is None else str(v) for v in row)
        total += int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
        n += 1
    return n, f"{total % (1 << 64):016x}"


# ---------------------------------------------------------------- pages_kg

PAGES_MAPPING = """
ex:map_pages a rr:TriplesMap ;
    rml:logicalSource [ a rml:LogicalSource ;
        rml:source "pages" ;
        rml:iterator "//data" ;
        rml:referenceFormulation ql:XPath ] ;
    rr:subjectMap [ a rr:SubjectMap ; rr:template "http://example.org/{@id}" ;
        rr:class <http://example.org/Entity> ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "@label" ; rr:termType rr:Literal ] ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant <http://example.org/self> ] ;
        rr:objectMap [ rr:template "http://example.org/{@id}" ; rr:termType rr:IRI ] ] .
"""

RECORDS_PER_PAGE = 2  # synth_pages' default


def _page_records(i: int):
    """The records ``sources.pages.synth_pages`` embeds in page ``i``,
    restated from its documented row-index formula."""
    for r in range(RECORDS_PER_PAGE):
        rid = f"{i:08d}-{r}"
        yield rid, f"label {rid} word{(i + r) % 211}"


class _UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)  # root = smallest IRI


class PagesKG:
    """One op = one ``pipeline.run_pipeline`` over a seeded window of
    synthetic pages plus a seeded alias dictionary: extract-verify, XML
    iterator mapping, linking, connected-components canonicalization and
    the parquet triple-table sink."""

    name = "pages_kg"
    # steady ops a run makes even past its time window; the CPU metrics
    # are taken over exactly these, so they cover the same op indices in
    # every run
    min_steady = 4

    def __init__(self, spark, seed: int, work: str, n_pages: int = 1500):
        from pyspark.sql import functions as F

        from rml_utils_processor_ts_spark.sources.pages import synth_pages

        self.spark = spark
        self.work = work
        rng = random.Random(seed)
        first = rng.randrange(0, 10_000)
        self.page_ids = range(first, first + n_pages)
        self.pages_path = os.path.join(work, "pages")
        url_index = F.substring_index(F.col("url"), "/", -1).cast("long")
        synth_pages(spark, first + n_pages).filter(url_index >= first).write.mode(
            "overwrite"
        ).parquet(self.pages_path)

        # alias groups: each canonical entity owns 1-4 records' labels,
        # spelled with random case and spacing (linking normalizes both)
        records = [rec for i in self.page_ids for rec in _page_records(i)]
        picked = rng.sample(records, len(records) // 20)
        self.aliases: list[tuple[str, str]] = []
        while picked:
            canon = f"http://kb.example.org/canon/{seed}-{len(self.aliases)}"
            size = rng.randint(1, 4)
            for _rid, label in picked[:size]:
                spelled = label.upper() if rng.random() < 0.3 else label
                if rng.random() < 0.3:
                    spelled = "  " + spelled.replace(" ", "   ") + " "
                self.aliases.append((spelled, canon))
            del picked[:size]
        self.alias_df = spark.createDataFrame(
            self.aliases, "alias string, canonical_iri string"
        )
        self._expected = self._expected_digest(records)

    def _expected_digest(self, records) -> tuple[int, str]:
        canon_of_label = {" ".join(a.lower().split()): c for a, c in self.aliases}
        uf = _UnionFind()
        for rid, label in records:
            canon = canon_of_label.get(label)
            if canon is not None:
                uf.union(EX + rid, canon)

        def rows():
            for rid, label in records:
                s = uf.find(EX + rid)
                yield (s, RDF_TYPE, EX + "Entity", "IRI", None, None, None)
                yield (s, RDFS_LABEL, label, "Literal", None, None, None)
                yield (s, EX + "self", s, "IRI", None, None, None)

        return multiset_digest(rows())

    def op(self, k: int) -> str:
        from rml_utils_processor_ts_spark import pipeline

        out = os.path.join(self.work, f"graph_{k}")
        pipeline.run_pipeline(
            self.spark, self.pages_path, PAGES_MAPPING, out, f"run-{k}", alias_dict=self.alias_df
        )
        return out

    def observed(self, k: int, out: str) -> list[tuple]:
        import duckdb

        data = glob.glob(os.path.join(out, "v_*", "data"))
        if len(data) != 1:
            raise OutputMismatch(f"expected one committed snapshot under {out}, found {data}")
        with duckdb.connect() as con:
            return con.execute(
                "SELECT s, p, o, o_termtype, o_datatype, o_lang, g FROM read_parquet(?)",
                [os.path.join(data[0], "*", "*.parquet")],
            ).fetchall()

    def expected(self, k: int) -> tuple[int, str]:
        return self._expected

    def check(self, k: int, rows) -> int:
        got = multiset_digest(rows)
        if got != self.expected(k):
            raise OutputMismatch(f"{self.name} op {k}: got {got}, want {self.expected(k)}")
        return got[0]

    def clear(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)


# -------------------------------------------------------------- cdc_stream

CDC_SOURCE = "dataset/entities.xml"
CDC_MAPPING = f"""
ex:map_entities a rr:TriplesMap ;
    rml:logicalSource [ a rml:LogicalSource ;
        rml:source "{CDC_SOURCE}" ;
        rml:iterator "//data" ;
        rml:referenceFormulation ql:XPath ] ;
    rr:subjectMap [ a rr:SubjectMap ; rr:template "http://example.org/e/{{@id}}" ;
        rr:class <http://example.org/Entity> ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "@label" ; rr:termType rr:Literal ] ] .
"""
LIFECYCLE = "http://ex.org/lifeCycleType"  # IncRMLConfig's default predicate
AS = "https://www.w3.org/ns/activitystreams#"


class CdcModel:
    """Pure-Python mirror of the single-publisher IncRML semantics:
    explicitCreate remembers every IRI ever created, implicitUpdate fires
    when the watched value differs from the last one seen, implicitDelete
    fires for a live entity missing from the snapshot."""

    def __init__(self):
        self.live: dict[str, str] = {}
        self.created: set[str] = set()
        self.seen: dict[str, str] = {}

    def apply(self, snap: dict[str, str]) -> dict[str, set[str]]:
        ev: dict[str, set[str]] = {"Create": set(), "Update": set(), "Delete": set()}
        for e, v in snap.items():
            if e not in self.created:
                ev["Create"].add(e)
                self.created.add(e)
            elif e in self.seen and self.seen[e] != v:
                ev["Update"].add(e)
            self.seen[e] = v
        for e in [e for e in self.live if e not in snap]:
            ev["Delete"].add(e)
            del self.live[e]
        self.live.update(snap)
        return ev


def cdc_lines(snap: dict[str, str], events: dict[str, set[str]]) -> list[str]:
    """The N-Quads lines the lifecycle events of one snapshot serialize to."""
    out = []
    for kind, ids in events.items():
        for e in ids:
            s = f"<{EX}e/{e}>"
            out.append(f"{s} <{LIFECYCLE}> <{AS}{kind}> .")
            out.append(f"{s} <{RDF_TYPE}> <{EX}Entity> .")
            if kind != "Delete":
                out.append(f'{s} <{RDFS_LABEL}> "{snap[e]}" .')
    return sorted(out)


class CdcStream:
    """Closed loop, one publisher: one op pushes the next seeded snapshot
    into a ``SnapshotRunner`` running an IncRML-expanded mapping over an
    on-disk ``StateStore`` and writes the lifecycle events as N-Quads;
    the next push waits for that result. Snapshot 0 creates every
    entity; each later one updates 10%, deletes 5% and creates 5% as many
    entities as snapshot 0 held, so every steady op emits the same number
    of events."""

    name = "cdc_stream"
    min_steady = 3
    UPDATE, DELETE, CREATE = 0.10, 0.05, 0.05

    def __init__(self, spark, seed: int, work: str, n_entities: int = 120, n_snapshots: int = 400):
        self.spark = spark
        self.work = work
        rng = random.Random(seed)
        live = {f"e{i:05d}": f"v{rng.randrange(10**6)}" for i in range(n_entities)}
        next_id = n_entities
        self.snapshots: list[dict[str, str]] = [dict(live)]
        n_del, n_upd, n_new = (max(1, round(n_entities * f)) for f in (self.DELETE, self.UPDATE, self.CREATE))
        for _ in range(n_snapshots - 1):
            touched = rng.sample(sorted(live), n_del + n_upd)
            for e in touched[:n_del]:
                del live[e]
            for e in touched[n_del:]:
                live[e] = f"v{rng.randrange(10**6)}-{len(self.snapshots)}"  # always a new value
            for _ in range(n_new):
                live[f"e{next_id:05d}"] = f"v{rng.randrange(10**6)}"
                next_id += 1
            self.snapshots.append(dict(live))
        model = CdcModel()
        self._expected = [cdc_lines(s, model.apply(s)) for s in self.snapshots]
        self.runner = None

    @staticmethod
    def payload(snap: dict[str, str]) -> str:
        rows = "".join(f'<data id="{e}" label="{v}"></data>' for e, v in sorted(snap.items()))
        return f"<resource>{rows}</resource>"

    def register(self) -> None:
        """Expand the mapping for IncRML and register it with a fresh
        runner; part of the first op, which a new stream pays once."""
        from rml_utils_processor_ts_spark.plans import incrml, rml_parser, serializer
        from rml_utils_processor_ts_spark.streaming.snapshots import SnapshotRunner

        state_root = os.path.join(self.work, "state")
        shutil.rmtree(state_root, ignore_errors=True)
        plan = incrml.expand_to_incrml(
            rml_parser.parse_mapping(CDC_MAPPING), incrml.IncRMLConfig(state_base_path="cdc")
        )
        self.runner = SnapshotRunner(
            self.spark, state_root=state_root, trigger_sources={CDC_SOURCE}
        )
        self.runner.add_mapping(serializer.plan_to_rml(plan))

    def op(self, k: int) -> str:
        from rml_utils_processor_ts_spark.sinks import nquads

        if k == 0:
            self.register()
        (result,) = self.runner.push_snapshot(CDC_SOURCE, self.payload(self.snapshots[k]))
        out = os.path.join(self.work, f"events_{k}")
        nquads.write_nquads(result.triples, out)
        return out

    def observed(self, k: int, out: str) -> list[str]:
        lines: list[str] = []
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                lines.extend(line for line in fh.read().split("\n") if line)
        return sorted(lines)

    def expected(self, k: int) -> list[str]:
        return self._expected[k]

    def check(self, k: int, lines) -> int:
        want = self.expected(k)
        if list(lines) != want:
            extra = sorted(set(lines) - set(want))[:3]
            missing = sorted(set(want) - set(lines))[:3]
            raise OutputMismatch(f"{self.name} op {k}: extra {extra}, missing {missing}")
        return len(want)

    def clear(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PagesKG, CdcStream)}
