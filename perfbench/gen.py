"""Seeded input generators for the benchmark (numpy + pyarrow only).

Everything the engine reads is produced here from the ``--seed`` given on
the command line; the engine's own generators (``kg.datagen``,
``scripts/gen_sf.py``) are never used, so a change to program code cannot
change the inputs.

* :func:`star_tables` — TPC-H-like star schema for ``rml_bulk``:
  ``lineitem`` as CSV (free-text comment column, ~1 % null comments, ~1 %
  duplicated rows, ~2 % dangling part keys), ``orders``/``customer``/
  ``part``/``supplier`` as Parquet and ``nation`` as a top-level JSON
  array, plus the RML mapping that converts them.
* :func:`documents` — interleaved-documents corpus for ``kg_build``:
  Zipf-distributed person mentions over a vocabulary ten times the engine's
  own generator's, with ``_aka``/``_aka2`` alias forms.
* :func:`kg_queries` / :func:`star_queries` — the seeded SPARQL mixes the
  traced run serves.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# compiler.RMLCompiler's default broadcast_threshold: a ROM parent whose
# source files are smaller than this is broadcast, larger ones shuffle
BROADCAST_THRESHOLD = 64 << 20

WORDS = np.array(
    "quick slow final special pending regular express bold ironic even "
    "careful silent blithe furious sly idle daring ruthless thin dogged "
    "deposits requests packages accounts foxes pinto beans theodolites "
    "instructions dependencies asymptotes courts dolphins platelets sheaves "
    "warhorses frays dugouts sentiments excuses realms ideas notornis".split())
SHIPMODES = np.array(["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"])
SEGMENTS = np.array(["automobile", "building", "furniture", "household",
                     "machinery"])
TYPE_A = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
TYPE_B = np.array(["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"])
TYPE_C = np.array(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER", "TIN"])
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _sentences(rng: np.random.Generator, n: int, lo: int, hi: int) -> list:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    words = WORDS[idx].tolist()
    out, pos = [], 0
    for k in lens.tolist():
        out.append(" ".join(words[pos:pos + k]))
        pos += k
    return out


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
@prefix fno: <https://w3id.org/function/ontology#> .
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
@prefix ex: <http://ex.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

<#LineItem> rml:logicalSource [ rml:source "{{ dir }}/lineitem.csv" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/lineitem/{l_orderkey}-{l_linenumber}" ;
                  rr:class ex:LineItem ] ;
  rr:predicateObjectMap [ rr:predicate ex:order ;
    rr:objectMap [ rr:parentTriplesMap <#Order> ;
      rr:joinCondition [ rr:child "l_orderkey" ; rr:parent "o_orderkey" ] ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:part ;
    rr:objectMap [ rr:parentTriplesMap <#Part> ;
      rr:joinCondition [ rr:child "l_partkey" ; rr:parent "p_partkey" ] ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:supplier ;
    rr:objectMap [ rr:template "http://ex.com/supplier/{l_suppkey}" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:quantity ;
    rr:objectMap [ rml:reference "l_quantity" ; rr:datatype xsd:integer ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:price ;
    rr:objectMap [ rml:reference "l_extendedprice" ; rr:datatype xsd:decimal ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:shipmode ;
    rr:objectMap [ rml:reference "l_shipmode" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:comment ;
    rr:objectMap [ rml:reference "l_comment" ; rr:language "en" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:dataset ;
    rr:objectMap [ rr:constant "tpch-like" ] ] .

<#Order> rml:logicalSource [ rml:source "{{ dir }}/orders.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/order/{o_orderkey}" ;
                  rr:class ex:Order ] ;
  rr:predicateObjectMap [ rr:predicate ex:customer ;
    rr:objectMap [ rr:template "http://ex.com/customer/{o_custkey}" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:orderdate ;
    rr:objectMap [ rml:reference "o_orderdate" ; rr:datatype xsd:date ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:totalprice ;
    rr:objectMap [ rml:reference "o_totalprice" ; rr:datatype xsd:decimal ] ] .

<#Customer> rml:logicalSource [ rml:source "{{ dir }}/customer.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/customer/{c_custkey}" ;
                  rr:class ex:Customer ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
    rr:objectMap [ rml:reference "c_name" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:segment ;
    rr:objectMap [ fnml:functionValue [
      rr:predicateObjectMap [ rr:predicate fno:executes ;
        rr:objectMap [ rr:constant grel:toUpperCase ] ] ;
      rr:predicateObjectMap [ rr:predicate grel:valueParameter ;
        rr:objectMap [ rml:reference "c_mktsegment" ] ]
    ] ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:nation ;
    rr:objectMap [ rr:parentTriplesMap <#Nation> ;
      rr:joinCondition [ rr:child "c_nationkey" ; rr:parent "n_nationkey" ] ] ] .

<#Part> rml:logicalSource [ rml:source "{{ dir }}/part.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/part/{p_partkey}" ;
                  rr:class ex:Part ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
    rr:objectMap [ rml:reference "p_name" ; rr:language "en" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:typeWord ;
    rr:objectMap [ fnml:functionValue [
      rr:predicateObjectMap [ rr:predicate fno:executes ;
        rr:objectMap [ rr:constant grel:string_split ] ] ;
      rr:predicateObjectMap [ rr:predicate grel:valueParameter ;
        rr:objectMap [ rml:reference "p_type" ] ] ;
      rr:predicateObjectMap [ rr:predicate grel:p_string_sep ;
        rr:objectMap [ rr:constant " " ] ]
    ] ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:retailprice ;
    rr:objectMap [ rml:reference "p_retailprice" ; rr:datatype xsd:decimal ] ] .

<#Supplier> rml:logicalSource [ rml:source "{{ dir }}/supplier.parquet" ] ;
  rr:subjectMap [ rr:template "http://ex.com/supplier/{s_suppkey}" ;
                  rr:class ex:Supplier ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
    rr:objectMap [ rml:reference "s_name" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:nationRef ;
    rr:objectMap [ rr:template "http://ex.com/nation/{s_nationkey}" ] ] .

<#Nation> rml:logicalSource [ rml:source "{{ dir }}/nation.json" ;
    rml:referenceFormulation ql:JSONPath ; rml:iterator "$[*]" ] ;
  rr:subjectMap [ rr:template "http://ex.com/nation/{n_nationkey}" ;
                  rr:class ex:Nation ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ;
    rr:objectMap [ rml:reference "n_name" ; rr:language "en" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:region ;
    rr:objectMap [ rml:reference "n_regionkey" ; rr:datatype xsd:integer ] ] .
"""


def star_tables(out_dir: str, seed: int, n_lineitem: int) -> dict:
    """Write the star schema + mapping under ``out_dir``; returns paths and
    row counts. Orders carry a padded, incompressible ``o_comment`` column
    the mapping never references, so its file crosses the compiler's
    broadcast threshold (the LineItem→Order join shuffles) while a
    column-pruned scan stays cheap."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(10, n_lineitem // 4)
    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_lineitem // 30)
    n_supp = max(10, n_lineitem // 600)

    nation = [{"n_nationkey": i, "n_name": name, "n_regionkey": i % 5}
              for i, name in enumerate(NATIONS)]
    with open(os.path.join(out_dir, "nation.json"), "w") as f:
        json.dump(nation, f)

    r = _rng(seed, 2)
    pq.write_table(pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_mktsegment": SEGMENTS[r.integers(0, len(SEGMENTS), n_cust)],
        "c_nationkey": r.integers(0, len(NATIONS), n_cust).astype(np.int64),
    }), os.path.join(out_dir, "customer.parquet"))

    r = _rng(seed, 3)
    p_type = [" ".join(t) for t in zip(
        TYPE_A[r.integers(0, len(TYPE_A), n_part)].tolist(),
        TYPE_B[r.integers(0, len(TYPE_B), n_part)].tolist(),
        TYPE_C[r.integers(0, len(TYPE_C), n_part)].tolist())]
    # "LARGE PLATED TIN TIN"-style repeats exercise the split fan-out's dedup
    rep = r.random(n_part) < 0.1
    p_type = [t + " " + t.rsplit(" ", 1)[1] if d else t
              for t, d in zip(p_type, rep.tolist())]
    pq.write_table(pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": _sentences(r, n_part, 2, 4),
        "p_type": p_type,
        "p_retailprice": _money(r, n_part, 900, 2000),
    }), os.path.join(out_dir, "part.parquet"))

    r = _rng(seed, 4)
    pq.write_table(pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": r.integers(0, len(NATIONS), n_supp).astype(np.int64),
    }), os.path.join(out_dir, "supplier.parquet"))

    r = _rng(seed, 5)
    pad = -(-(BROADCAST_THRESHOLD + (2 << 20)) // n_orders)
    noise = r.integers(97, 123, size=n_orders * pad, dtype=np.uint8)
    comment = pa.Array.from_buffers(
        pa.string(), n_orders,
        [None, pa.py_buffer(np.arange(0, n_orders * pad + 1, pad,
                                      dtype=np.int32)),
         pa.py_buffer(noise)])
    days = r.integers(0, 2400, n_orders)
    orderdate = (np.datetime64("1992-01-01") + days).astype(str)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": r.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderdate": orderdate,
        "o_totalprice": _money(r, n_orders, 1000, 400000),
        "o_comment": comment,
    }), os.path.join(out_dir, "orders.parquet"), compression="none")

    r = _rng(seed, 6)
    per_order = r.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(1, n_orders + 1), per_order)[:n_lineitem]
    n_li = len(l_orderkey)
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    l_linenumber = (np.arange(len(l_orderkey))
                    - np.repeat(starts, per_order)[:n_li] + 1)
    l_partkey = r.integers(1, n_part + 1, n_li)
    dangling = r.random(n_li) < 0.02
    l_partkey[dangling] += n_part + 1000
    comments = np.array(_sentences(r, n_li, 3, 8), dtype=object)
    comments[r.random(n_li) < 0.01] = None
    cols = {
        "l_orderkey": l_orderkey.astype(np.int64),
        "l_partkey": l_partkey.astype(np.int64),
        "l_suppkey": r.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": l_linenumber.astype(np.int64),
        "l_quantity": r.integers(1, 51, n_li).astype(np.int64),
        "l_extendedprice": np.char.mod("%.2f", _money(r, n_li, 900, 100000)),
        "l_shipmode": SHIPMODES[r.integers(0, len(SHIPMODES), n_li)],
        "l_comment": comments,
    }
    li = pa.table({k: pa.array(v) for k, v in cols.items()})
    dup = np.flatnonzero(r.random(n_li) < 0.01)
    li = pa.concat_tables([li, li.take(pa.array(dup))])
    li = li.take(pa.array(r.permutation(li.num_rows)))
    pacsv.write_csv(li, os.path.join(out_dir, "lineitem.csv"))

    mapping = os.path.join(out_dir, "star.rml.ttl")
    with open(mapping, "w") as f:
        f.write(MAPPING.replace("{{ dir }}", os.path.abspath(out_dir)))
    o_custkey = pq.read_table(os.path.join(out_dir, "orders.parquet"),
                              columns=["o_custkey"])["o_custkey"].to_numpy()
    used_orders = np.unique(l_orderkey)
    return {
        "mapping": mapping,
        "dir": out_dir,
        "rows": {"lineitem": li.num_rows, "orders": n_orders,
                 "customer": n_cust, "part": n_part, "supplier": n_supp,
                 "nation": len(NATIONS)},
        # constants the query mix draws from: entities that exist
        "keys": {"li_order": l_orderkey, "li_line": l_linenumber,
                 "orders": used_orders,
                 "customers": np.unique(o_custkey[used_orders - 1]),
                 "parts": np.arange(1, n_part + 1)},
    }


# ---------------------------------------------------------------- documents

N_PERSONS = 5000      # > the engine's own generator (500): hot entities
N_PLACES = 300
ZIPF_S = 1.1
TEXT = "report {} notes that PERSON:{} was seen at PLACE:L{} today"


def _zipf(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** s
    return rng.choice(vocab, size=n, p=p / p.sum())


def documents(out_dir: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Write the corpus as ``n_files`` parquet files under ``out_dir``:
    ``doc_id: string, spans: array<struct<kind, text, media_ref, offset>>``.
    Returns the path plus the person/place/doc constants the query mix
    draws from."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 10)
    n_spans = r.integers(3, 9, n_docs)
    total = int(n_spans.sum())
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    span_idx = np.arange(total) - np.repeat(starts, n_spans)
    kind_sel = r.integers(0, 5, total)
    person = _zipf(r, total, N_PERSONS, ZIPF_S)
    alias = r.integers(0, 6, total)
    place = r.integers(0, N_PLACES, total)
    filler = r.integers(0, 1000, total)
    offset = (span_idx * 64 + r.integers(0, 50, total)).astype(np.int32)

    kinds, texts, refs = [], [], []
    for d, i, k, pe, al, pl, fi in zip(
            doc_of.tolist(), span_idx.tolist(), kind_sel.tolist(),
            person.tolist(), alias.tolist(), place.tolist(), filler.tolist()):
        if k < 3:
            surface = (f"P{pe}_aka" if al == 0 else
                       f"P{pe}_aka2" if al == 1 else f"P{pe}")
            kinds.append("text")
            texts.append(TEXT.format(fi, surface, pl))
            refs.append(None)
        else:
            kinds.append("image" if k == 3 else "audio")
            texts.append(None)
            refs.append(f"media://doc-{d:08d}/{i}")
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds), pa.array(texts, pa.string()),
         pa.array(refs, pa.string()), pa.array(offset)],
        names=["kind", "text", "media_ref", "offset"])
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    table = pa.table({
        "doc_id": [f"doc-{d:08d}" for d in range(n_docs)],
        "spans": pa.ListArray.from_arrays(offsets, spans),
    })
    per = -(-n_docs // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))

    text = kind_sel < 3
    persons = np.unique(person[text])
    return {
        "path": out_dir,
        "docs": n_docs,
        "spans": total,
        "persons": persons,
        "aliased": np.unique(person[text & (alias < 2)]),
        "places": np.unique(place[text]),
    }


# ---------------------------------------------------------------- SPARQL mix

SHAPES = ("lookup", "bgp_filter", "agg", "optional", "notexists", "path")
# one client walks this cycle: half lookups (subject- or object-bound,
# alternating), half the heavier shapes, so 20 queries give two of each
CYCLE = ("lookup", "bgp_filter", "lookup", "agg", "lookup", "optional",
         "lookup", "notexists", "lookup", "path")

KG = "http://kg.ex/"
KG_PREFIXES = (f"PREFIX kg: <{KG}p/> PREFIX cls: <{KG}class/> "
               "PREFIX owl: <http://www.w3.org/2002/07/owl#> ")
EXP = "PREFIX ex: <http://ex.com/> "


def _ent(etype: str, surface: str) -> str:
    return f"<{KG}ent/{etype}/{surface}>"


def _doc(d: int) -> str:
    return f"<{KG}doc/doc-{d:08d}>"


def kg_queries(seed: int, corpus: dict, n: int) -> list:
    """``n`` seeded ``(shape, sparql, params)`` queries over the KG graph;
    ``params`` names the oracle check and its constants."""
    r = _rng(seed, 20)
    persons, aliased, places = (corpus["persons"], corpus["aliased"],
                                corpus["places"])
    pick = lambda a: int(a[r.integers(0, len(a))])  # noqa: E731
    out = []
    for i in range(n):
        shape = CYCLE[i % len(CYCLE)]
        if shape == "lookup" and i % 4 == 0:
            d = _doc(int(r.integers(0, corpus["docs"])))
            out.append((shape, f"SELECT ?p ?o WHERE {{ {d} ?p ?o }}",
                        {"kind": "by_s", "s": d}))
        elif shape == "lookup":
            e = _ent("person", f"P{pick(persons)}")
            out.append((shape, KG_PREFIXES +
                        f"SELECT ?d WHERE {{ ?d kg:mentions {e} }}",
                        {"kind": "by_po", "p": f"<{KG}p/mentions>", "o": e}))
        elif shape == "bgp_filter":
            prefix = f"P{pick(persons)}_"
            out.append((shape, KG_PREFIXES +
                        "SELECT ?d ?e WHERE { ?d kg:mentions ?e . "
                        "?e kg:surface ?sf . "
                        f'FILTER(STRSTARTS(?sf, "{prefix}")) }}',
                        {"kind": "kg_bgp_filter", "prefix": prefix}))
        elif shape == "agg":
            e = _ent("person", f"P{pick(persons)}")
            out.append((shape, KG_PREFIXES +
                        "SELECT ?pl (COUNT(?d) AS ?n) WHERE { "
                        f"?d kg:mentions {e} . ?d kg:mentions ?pl . "
                        "?pl a cls:Place } GROUP BY ?pl",
                        {"kind": "kg_agg", "o": e,
                         "cls": f"<{KG}class/Place>"}))
        elif shape == "optional":
            d = _doc(int(r.integers(0, corpus["docs"])))
            out.append((shape, KG_PREFIXES +
                        f"SELECT ?e ?sf WHERE {{ {d} kg:mentions ?e . "
                        "OPTIONAL { ?e kg:surface ?sf "
                        'FILTER(STRENDS(?sf, "_aka")) } }',
                        {"kind": "kg_optional", "s": d}))
        elif shape == "notexists":
            pl = _ent("place", f"L{pick(places)}")
            pe = _ent("person", f"P{pick(persons[:50])}")
            out.append((shape, KG_PREFIXES +
                        f"SELECT ?d WHERE {{ ?d kg:mentions {pl} . "
                        f"FILTER NOT EXISTS {{ ?d kg:mentions {pe} }} }}",
                        {"kind": "kg_notexists", "place": pl,
                         "person": pe}))
        else:
            base = pick(aliased)
            if r.random() < 0.5:
                e = _ent("person", f"P{base}_aka" + ("2" if r.random() < 0.5
                                                     else ""))
                q = f"SELECT ?x WHERE {{ {e} owl:sameAs+ ?x }}"
                params = {"kind": "closure", "start": e, "fwd": True}
            else:
                e = _ent("person", f"P{base}")
                q = f"SELECT ?x WHERE {{ ?x owl:sameAs+ {e} }}"
                params = {"kind": "closure", "start": e, "fwd": False}
            out.append((shape, KG_PREFIXES + q, params))
    return out


def star_queries(seed: int, star: dict, n: int) -> list:
    """``n`` seeded ``(shape, sparql, params)`` queries over the star
    graph the RML mapping produces."""
    r = _rng(seed, 21)
    meta = star["keys"]
    pick = lambda a: int(a[r.integers(0, len(a))])  # noqa: E731
    ex = "http://ex.com/"
    out = []
    for i in range(n):
        shape = CYCLE[i % len(CYCLE)]
        order = f"<{ex}order/{pick(meta['orders'])}>"
        if shape == "lookup" and i % 4 == 0:
            k = int(r.integers(0, len(meta["li_order"])))
            li = (f"<{ex}lineitem/{int(meta['li_order'][k])}-"
                  f"{int(meta['li_line'][k])}>")
            out.append((shape, f"SELECT ?p ?o WHERE {{ {li} ?p ?o }}",
                        {"kind": "by_s", "s": li}))
        elif shape == "lookup":
            out.append((shape, EXP +
                        f"SELECT ?li WHERE {{ ?li ex:order {order} }}",
                        {"kind": "by_po", "p": f"<{ex}order>", "o": order}))
        elif shape == "bgp_filter":
            part = f"<{ex}part/{pick(meta['parts'])}>"
            out.append((shape, EXP +
                        f"SELECT ?li ?q WHERE {{ ?li ex:part {part} . "
                        "?li ex:quantity ?q FILTER(?q > 25) }",
                        {"kind": "star_bgp_filter", "part": part,
                         "qmin": 25}))
        elif shape == "agg":
            cust = f"<{ex}customer/{pick(meta['customers'])}>"
            out.append((shape, EXP +
                        "SELECT ?m (COUNT(?li) AS ?n) WHERE { "
                        f"?li ex:order ?o . ?o ex:customer {cust} . "
                        "?li ex:shipmode ?m } GROUP BY ?m",
                        {"kind": "star_agg", "customer": cust}))
        elif shape == "optional":
            out.append((shape, EXP +
                        f"SELECT ?li ?c WHERE {{ ?li ex:order {order} . "
                        "OPTIONAL { ?li ex:comment ?c } }",
                        {"kind": "star_optional", "order": order}))
        elif shape == "notexists":
            mode = str(SHIPMODES[r.integers(0, len(SHIPMODES))])
            out.append((shape, EXP +
                        f"SELECT ?li WHERE {{ ?li ex:order {order} . "
                        f'FILTER NOT EXISTS {{ ?li ex:shipmode "{mode}" }} }}',
                        {"kind": "star_notexists", "order": order,
                         "mode": f'"{mode}"'}))
        else:
            out.append((shape, EXP +
                        f"SELECT ?w WHERE {{ {order} "
                        "^ex:order/ex:part/ex:typeWord ?w }",
                        {"kind": "star_path", "order": order}))
    return out
