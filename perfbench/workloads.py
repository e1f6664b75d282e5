"""Workloads: seeded inputs, the three user operations and their checks.

Operations are the CLI's jobs, called through the library:

* ``build``   parse the document, build frames, run
  ``build_graph_resumable`` (jobs/build_graph.py without ``--refresh-from``);
* ``export``  parse, ``export_codesystem``, ``write_codesystem_json``;
* ``refresh`` parse the v2 document (one concept relabelled), read the
  latest committed build, ``refresh_graph``, ``write_committed_chunk``
  (the CLI's ``--refresh-from`` path). It costs as much as a build, so
  only the traced run times it, as a layer probe.

Each operation's output is checked against a reference computed in
set-up from the pure-Python model (``fixtures.model_build_graph``); an
operation that raises, times out or fails its check counts as failed and
its time is not reported.
"""

from __future__ import annotations

import re
import shutil
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

import inputs
from fhir_owl_spark import benchgen
from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.plans import export as ex
from fhir_owl_spark.plans import lineage as ln
from fhir_owl_spark.plans import refresh as rf
from fhir_owl_spark.sources import owl_xml
from fhir_owl_spark.sources import turtle

# jobs/build_graph.py defaults to 8 chunks. Each transcript chunk adds
# about 3.5 s to a build on a 4-vCPU VM, so one keeps the run inside its
# budget; the commit path (staging, the ontology chunk and a transcript
# chunk, lineage rows) still runs in full
N_CHUNKS = 1
TRIPLE = ("subj", "pred", "obj")


# the user operations each run times; the first run of each, untimed,
# pays for first-use code loading and JIT compiles
OPS = ("build", "export")


@dataclass(frozen=True)
class Spec:
    """Workload shape. ``ontology`` is 'qops' or a synthetic class count."""

    ontology: str | int
    turns: int  # benchgen turns for 'qops'; about this many fixture turns otherwise


SPECS = {
    "corpus": Spec("qops", 50_000),
    "ontology": Spec(5_000, 10_000),
}

_TOKENS = re.compile(r"[a-z0-9]+( [a-z0-9]+)*")


def model_triples(ont: fx.Ontology, cfg, texts: list[tuple[str, str]]) -> set:
    """``fixtures.model_build_graph(ont, turns, cfg)`` at benchmark scale.

    The mention part is an n-gram lookup instead of one regex search per
    term and turn: on texts and terms made of single-space-separated
    ``[a-z0-9]`` tokens (checked), a whole-word match of a term is exactly
    an n-gram equal to it."""
    rows = fx.model_concept_rows(ont, cfg)
    stop = {t.lower() for t in cfg.link_stop_terms}
    codes_of: dict[str, set[str]] = {}
    for r in rows.values():
        if r["deprecated"] and not cfg.link_deprecated:
            continue
        for term in {r["display"], *r["synonyms"]} - {None}:
            t = term.lower()
            if len(t) >= cfg.min_term_chars and t not in stop:
                codes_of.setdefault(t, set()).add(r["code"])
    for t in codes_of:
        if not _TOKENS.fullmatch(t):
            raise ValueError(f"term {t!r} is not space-separated [a-z0-9] tokens")
    longest = max((t.count(" ") + 1 for t in codes_of), default=0)
    out = fx.model_build_graph(ont, [], cfg)
    for conv_id, text in texts:
        text = (text or "").lower()
        if text and not _TOKENS.fullmatch(text):
            raise ValueError(f"turn text {text[:60]!r} is not space-separated [a-z0-9] tokens")
        words = text.split(" ")
        for n in range(1, longest + 1):
            for i in range(len(words) - n + 1):
                for code in codes_of.get(" ".join(words[i:i + n]), ()):
                    out.add((code, "mentions-in", conv_id))
    return out


def digest(df) -> tuple[int, int]:
    """Order-independent (rows, hash sum) of (subj, pred, obj)."""
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(
            F.sum(F.xxhash64(*TRIPLE).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ),
    ).collect()[0]
    return int(row[0]), int(row[1])


@dataclass
class Workload:
    spark: object
    work: Path
    seed: int
    spec: Spec
    traced: bool = False
    ref: dict = field(default_factory=dict)
    last_build: Path | None = None
    n_turns: int = 0
    n_ops: int = 0
    _pending: tuple | None = None  # (kind, output, ...) of the last operation

    # ---- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """Generate inputs from the seed and the model's reference digests."""
        spark, seed, spec = self.spark, self.seed, self.spec
        if spec.ontology == "qops":
            ont, cfg = fx.query_ops_fixture()
        else:
            ont, cfg = fx.synthetic_ontology(spec.ontology, seed=seed)
        v2, _, _ = inputs.relabel_one(ont, cfg, seed)
        self.fixture_cfg = cfg
        self.doc = {}
        self.parse_kw = {}
        for version, tables in (("v1", ont), ("v2", v2)):
            path = self.work / f"ontology_{version}.owl"
            path.write_text(inputs.render_rdfxml(tables, f"http://example.org/bench/{seed}"))
            self.doc[version] = path
            self.parse_kw[version] = inputs.parse_kwargs(tables)

        turns_dir = str(self.work / "transcripts")
        if spec.ontology == "qops":
            benchgen.bench_transcripts(spark, spec.turns, seed=seed).write.parquet(turns_dir)
        else:
            # make_transcripts averages 7 turns per conversation
            turns = fx.make_transcripts(ont, cfg, n_conv=spec.turns // 7, seed=seed)
            fx.transcripts_df(spark, turns).write.parquet(turns_dir)
        self.transcripts = spark.read.parquet(turns_dir)

        texts = [(r[0], r[1]) for r in self.transcripts.select("conv_id", "text").collect()]
        self.n_turns = len(texts)
        self.ref["concepts"] = len(fx.model_concept_rows(ont, cfg))
        for version, tables in (("v1", ont), ("v2", v2))[: 1 + self.traced]:
            model = pd.DataFrame(sorted(model_triples(tables, cfg, texts)), columns=list(TRIPLE))
            self.ref[version] = digest(
                spark.createDataFrame(model, "subj string, pred string, obj string")
            )

    def frames(self, version: str):
        """Document → parsed tables → frames and the remapped config."""
        parsed = turtle.parse_ontology_document(str(self.doc[version]), **self.parse_kw[version])
        frames = fx.ontology_dfs(self.spark, parsed.tables)
        return frames, self.document_config(parsed), parsed

    def document_config(self, parsed):
        return inputs.document_config(self.fixture_cfg, parsed.has_imports)

    # ---- operations ------------------------------------------------------

    def _out(self, kind: str) -> Path:
        self.n_ops += 1
        return self.work / "out" / f"{kind}{self.n_ops}"

    def op_build(self) -> None:
        out = self._out("build")
        frames, cfg, _ = self.frames("v1")
        ln.build_graph_resumable(
            self.spark, *frames, self.transcripts, str(out), cfg, n_chunks=N_CHUNKS
        )
        self._pending = ("build", out)

    def op_refresh(self) -> None:
        if self.last_build is None:
            raise RuntimeError("refresh needs a committed build")
        out = self._out("refresh")
        frames, cfg, _ = self.frames("v2")
        src = str(self.last_build)
        refreshed = rf.refresh_graph(
            self.spark, ln.read_triples(self.spark, src), *frames, self.transcripts, cfg
        )
        v1_rows = sum(r["output_triples"] for r in ln.read_lineage(self.spark, src).collect())
        ln.write_committed_chunk(
            self.spark, str(out), 0, refreshed, v1_rows, uuid.uuid4().hex[:12]
        )
        self._pending = ("refresh", out)

    def op_export(self) -> None:
        out = self._out("export").with_suffix(".json")
        out.parent.mkdir(parents=True, exist_ok=True)
        frames, cfg, parsed = self.frames("v1")
        cs = ex.export_codesystem(
            self.spark, *frames, cfg, metadata=owl_xml.ontology_metadata(parsed, cfg)
        )
        ex.write_codesystem_json(cs, str(out))
        self._pending = ("export", out, cs)

    # ---- checks (outside the timed region) ------------------------------

    def check(self) -> str | None:
        """None if the last operation's output matches the model, else why."""
        kind, out, *rest = self._pending
        if kind == "export":
            cs = rest[0]
            want = self.ref["concepts"]
            out.unlink()
            if cs["count"] != want or len(cs["concept"]) != want:
                return f"export: {cs['count']} concepts, model has {want}"
            return None
        got = digest(ln.read_triples(self.spark, str(out)))
        want = self.ref["v1" if kind == "build" else "v2"]
        if got != want:
            return f"{kind}: (rows, digest) {got} != model {want}"
        if kind == "build":
            if self.last_build is not None:
                shutil.rmtree(self.last_build, ignore_errors=True)
            self.last_build = out
        else:
            shutil.rmtree(out, ignore_errors=True)
        return None

    def output_stats(self) -> tuple[int, int, int]:
        """(parquet files, parquet bytes, triples) of the latest build."""
        files = list((self.last_build / "triples").rglob("*.parquet"))
        return (
            len(files),
            sum(p.stat().st_size for p in files),
            self.ref["v1"][0],
        )
