#!/usr/bin/env python3
"""Seeded N-Triples generator for the KG-build benchmark.

    python3 kgbench/gen.py --workload bulk_load --seed 7 --out DIR

writes DIR/files/part-NNNNN.nt and DIR/inputs.json. The same workload
and seed always give byte-identical files. The program under test only
ever sees the .nt files; inputs.json holds the input properties of the
workload and the counts the benchmark checks the program's output
against. Every count is derived here from what was written, never from
the program.

The corpus is entity-centric: file f describes a block of entities
(type, name, label, age, email, knows, partOf, description, a blank-node
address), plus statements about eight hub entities, which skew the
subject distribution the way real KG hot keys do.
"""
import argparse
import json
import os
import random
import shutil

EX = "http://kg.example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
RDF_LANG_STRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
HUBS = 8
CLASSES = 8

# files, entities per file, lenient parse mode, and the shares that shape
# each corpus. bulk_load and resume share one corpus shape: resume is a
# crashed bulk_load.
BUILD = dict(files=64, per_file=10, lenient=False, noncanon=0.10, invalid=0.005,
             bnode=0.5, hub_stmts=(2, 8), medium=0.3, long=0.01, multiline=0.0)
PROFILES = {
    "bulk_load": BUILD,
    "resume": BUILD,
    "validate": dict(files=64, per_file=250, lenient=True, noncanon=0.10, invalid=0.01,
                     bnode=0.5, hub_stmts=(20, 60), medium=0.3, long=0.01, multiline=0.01),
    "query": dict(files=64, per_file=10, lenient=False, noncanon=0.10, invalid=0.0,
                  bnode=0.5, hub_stmts=(2, 8), medium=0.1, long=0.0, multiline=0.0),
}

WORDS = ("graph node edge triple subject object literal parse link canon bucket "
         "stage shuffle spark query plan join scan hash skew spill index").split()

# invalid line templates and the error class each must produce: the
# parser's message with the line/char prefix cut and IRIs masked as <*>
# (KgBench.errorClass); the same text in strict and lenient mode
INVALID = [
    ("oops {s} {p} {o} .", "expected [<, _, or #], but found [o]"),
    ("{s} {p} {o}", "expected [.], but found [EOI]"),
    ("<e/{i}> {p} {o} .", "<*> is not absolute"),
    ("<http://kg.example.org/e/ {i}> {p} {o} .", "expected [>, \\, or %], but found [ ]"),
    ("{s} {p} \"unterminated {i} .", "expected [\", or \\], but found [EOI]"),
]


def noncanonical(iri, rng):
    """A spelling of the http `iri` that canonicalization maps back to it:
    upper-case scheme or host, or the default port."""
    host, path = iri[len("http://"):].split("/", 1)
    return rng.choice((
        "HTTP://" + host + "/" + path,
        "http://" + host.upper() + "/" + path,
        "Http://" + host.title() + "/" + path,
        "http://" + host + ":80/" + path,
    ))


class Corpus:
    def __init__(self, workload, seed):
        self.p = PROFILES[workload]
        self.rng = random.Random(f"{workload}:{seed}")
        self.entities = self.p["files"] * self.p["per_file"]
        self.c = dict(statements=0, triples=0, error_rows=0, physical_lines=0,
                      term_occurrences=0, iri_occurrences=0, bnode_terms=0,
                      iris_rewritten=0, hub_subject_triples=0,
                      lit_short=0, lit_medium=0, lit_long=0, lit_multiline=0,
                      lit_chars=0, literals=0)
        self.error_classes = {}
        self.nodes = set()
        self.subjects = {}

    # ---- terms: (n3 text as written, canonical node key) ----------------
    def iri(self, canon):
        c = self.c
        c["term_occurrences"] += 1
        c["iri_occurrences"] += 1
        if self.rng.random() < self.p["noncanon"]:
            c["iris_rewritten"] += 1
            return "<" + noncanonical(canon, self.rng) + ">", ("I", canon)
        return "<" + canon + ">", ("I", canon)

    def bnode(self, label):
        self.c["term_occurrences"] += 1
        self.c["bnode_terms"] += 1
        return "_:" + label, ("B", self.path, label)

    def lit(self, text, value, lang=None, dt=XSD_STRING):
        c = self.c
        c["term_occurrences"] += 1
        c["literals"] += 1
        c["lit_chars"] += len(value)
        if "\n" in value:
            c["lit_multiline"] += 1
        elif len(value) >= 1000:
            c["lit_long"] += 1
        elif len(value) >= 50:
            c["lit_medium"] += 1
        else:
            c["lit_short"] += 1
        suffix = "@" + lang if lang else ("" if dt == XSD_STRING else "^^<" + dt + ">")
        return text + suffix, ("L", value, lang, RDF_LANG_STRING if lang else dt)

    def entity(self, i):
        return self.iri(f"{EX}e/{i}")

    def prose(self, lo, hi):
        r = self.rng
        out, n = [], r.randint(lo, hi)
        while sum(len(w) + 1 for w in out) < n:
            out.append(r.choice(WORDS))
        return " ".join(out)

    # ---- statements ------------------------------------------------------
    def emit(self, lines, s, p, o, subject_id=None):
        """Append one statement; a share of them is replaced by an
        invalid line (which then contributes no terms)."""
        r, c = self.rng, self.c
        c["statements"] += 1
        if r.random() < self.p["invalid"]:
            i = r.randrange(len(INVALID))
            tmpl, cls = INVALID[i]
            lines.append(tmpl.format(s=f"<{EX}e/1>", p=f"<{EX}name>", o='"x"',
                                     i=r.randrange(1000)))
            c["error_rows"] += 1
            self.error_classes[cls] = self.error_classes.get(cls, 0) + 1
            return
        (st, sk), (pt, pk), (ot, ok) = s(), p(), o()
        c["triples"] += 1
        self.nodes.update((sk, pk, ok))
        key = subject_id if subject_id is not None else sk
        self.subjects[key] = self.subjects.get(key, 0) + 1
        if subject_id is not None and isinstance(subject_id, int) and subject_id < HUBS:
            c["hub_subject_triples"] += 1
        tail = " # trailing comment" if r.random() < 0.02 else ""
        lines.append(f"{st} {pt} {ot} .{tail}")

    def describe(self, lines, i):
        r, p = self.rng, self.p
        s = lambda: self.entity(i)
        P = lambda name: (lambda: self.iri(EX + name))
        self.emit(lines, s, lambda: self.iri(RDF_TYPE),
                  lambda: self.iri(f"{EX}class/C{i % CLASSES}"), i)
        name = f"Name {i}"
        if r.random() < 0.3:
            self.emit(lines, s, P("name"),
                      lambda: self.lit(f'"{name} caf\\u00E9"', name + " café"), i)
        else:
            self.emit(lines, s, P("name"), lambda: self.lit(f'"{name}"', name), i)
        lang = r.choice(("en", "de", "en-US"))
        self.emit(lines, s, lambda: self.iri(RDFS_LABEL),
                  lambda: self.lit(f'"label {i}"', f"label {i}", lang=lang), i)
        age = str(r.randrange(100000))
        self.emit(lines, s, P("age"),
                  lambda: self.lit(f'"{age}"', age, dt=XSD_INTEGER), i)
        if r.random() < 0.5:
            mail = f"user{i}@example.org"
            self.emit(lines, s, P("email"), lambda: self.lit(f'"{mail}"', mail), i)
        for _ in range(r.randint(1, 3)):
            if r.random() < 0.2:
                j = r.randrange(HUBS)
            else:
                j = int(self.entities * r.random() ** 2)
            self.emit(lines, s, P("knows"), lambda: self.entity(j), i)
        if i > 0:
            parent = (i - 1) // 4
            self.emit(lines, s, P("partOf"), lambda: self.entity(parent), i)
        u = r.random()
        if u < p["multiline"]:
            text = "\n".join(self.prose(20, 60) for _ in range(r.randint(2, 4)))
            self.emit(lines, s, P("description"),
                      lambda: self.lit('"""' + text + '"""', text), i)
        elif u < p["multiline"] + p["long"]:
            text = self.prose(1000, 3000)
            self.emit(lines, s, P("description"), lambda: self.lit(f'"{text}"', text), i)
        elif u < p["multiline"] + p["long"] + p["medium"]:
            text = self.prose(50, 200)
            self.emit(lines, s, P("description"), lambda: self.lit(f'"{text}"', text), i)
        if r.random() < p["bnode"]:
            label = f"a{i}"
            city = f"City {r.randrange(50)}"
            self.emit(lines, s, P("address"), lambda: self.bnode(label), i)
            self.emit(lines, lambda: self.bnode(label), P("city"),
                      lambda: self.lit(f'"{city}"', city), ("B", self.path, label))

    def hub_statements(self, lines):
        r = self.rng
        lo, hi = self.p["hub_stmts"]
        for _ in range(r.randint(lo, hi)):
            h = r.randrange(HUBS)
            j = r.randrange(self.entities)
            self.emit(lines, lambda: self.entity(h), lambda: self.iri(EX + "mentions"),
                      lambda: self.entity(j), h)

    def write(self, out):
        files_dir = os.path.join(out, "files")
        os.makedirs(files_dir)
        p, r = self.p, self.rng
        sizes = []
        for f in range(p["files"]):
            name = f"part-{f:05d}.nt"
            # bnode scope is the file: input_file_name() of this path
            self.path = "file://" + os.path.abspath(os.path.join(files_dir, name))
            lines = []
            for i in range(f * p["per_file"], (f + 1) * p["per_file"]):
                if r.random() < 0.02:
                    lines.append("# entity block")
                if r.random() < 0.01:
                    lines.append("")
                self.describe(lines, i)
            self.hub_statements(lines)
            data = ("\n".join(lines) + "\n").encode("utf-8")
            self.c["physical_lines"] += data.count(b"\n")
            with open(os.path.join(files_dir, name), "wb") as fh:
                fh.write(data)
            sizes.append(len(data))
        return sizes

    def summary(self, workload, seed, sizes):
        c = self.c
        top = max(self.subjects.values())
        return {
            "workload": workload,
            "seed": seed,
            "lang": "nt-lenient" if self.p["lenient"] else "nt",
            "entities": self.entities,
            "hubs": HUBS,
            "classes": CLASSES,
            "properties": {
                "files": len(sizes),
                "input_bytes": sum(sizes),
                "file_bytes_min": min(sizes),
                "file_bytes_mean": sum(sizes) / len(sizes),
                "file_bytes_max": max(sizes),
                "physical_lines": c["physical_lines"],
                "bnode_share": c["bnode_terms"] / c["term_occurrences"],
                "noncanonical_iri_share": c["iris_rewritten"] / c["iri_occurrences"],
                "term_reuse": c["term_occurrences"] / len(self.nodes),
                "hub_subject_share": c["hub_subject_triples"] / c["triples"],
                "top_subject_share": top / c["triples"],
                "literal_mix": {k: c["lit_" + k] for k in
                                ("short", "medium", "long", "multiline")},
                "literal_mean_chars": c["lit_chars"] / c["literals"],
                "invalid_line_share": c["error_rows"] / c["statements"],
            },
            "expected": {
                "statements": c["statements"],
                "triples": c["triples"],
                "error_rows": c["error_rows"],
                "error_classes": dict(sorted(self.error_classes.items())),
                "bnode_terms": c["bnode_terms"],
                "iris_rewritten": c["iris_rewritten"],
                "nodes": len(self.nodes),
            },
        }


def generate(workload, seed, out):
    """Write the corpus of (workload, seed) under `out`; return its summary."""
    if os.path.exists(out):
        shutil.rmtree(out)
    corpus = Corpus(workload, seed)
    sizes = corpus.write(out)
    summary = corpus.summary(workload, seed, sizes)
    with open(os.path.join(out, "inputs.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
