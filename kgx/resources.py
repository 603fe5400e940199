"""Knowledge dimensions: gazetteer, orientation lexicon, indicators, aliases.

The reference loads FIRSTOntology.owl (4,806-line RDF/XML) as a GATE OWLIM
resource (WeblogTag.java:83-116) and drives mention annotation from its
rdfs:labels. We flatten the same *shapes* into small dimension DataFrames
built driver-side and broadcast (SURVEY.md §1.2):

  gazetteer(entity_uri, entity_name, entity_type, surface)   — SentimentObject
    subclasses + surface forms (FIRSTOntology.owl:125-139 Company labels)
  orientation_lexicon(term, polarity)                        — General Inquirer
    positive/negative classes (FIRSTOntology.owl:54-56,192-194)
  indicators(indicator_uri, name, surface, ind_type,
             correlation, object_class, feature_uri)         — NamedIndividuals
    + correlation definitions (FIRSTOntology.owl:4224-4259)
  feature_alias(alias, canonical)                            — Reputation/Price/
    Volatility → expectedFuture*Change (GlobalParameters.java:147-159)
  dom_bounds(label, lower, upper, avg)                       — fuzzy score bins
    (insertAllConstantTypes.sql DEGREE_OF_MEMBERSHIP)

The concrete entity/term data below is an original deterministic synthetic
knowledge base with the same structure (no content copied from the ontology);
`load_knowledge(path)` accepts user-supplied TSV/parquet snapshots for
production use.

At 100 TB these tables stay tiny (a few thousand rows) — always broadcast,
never shuffled.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from kgx import schema


def local_df(
    spark: SparkSession, rows: list, row_schema: StructType | str
) -> DataFrame:
    """A driver-built table (a list of row tuples) as an Arrow-backed
    `LocalRelation`: the rows travel inside the plan (`LocalTableScan`), so
    scanning the table never starts a Python worker, where
    `createDataFrame(<list>)` makes a Python RDD (`Scan ExistingRDD`).

    Every row is checked against the schema first, with the verifier the
    list path uses, so a malformed row raises the list path's error
    (FIELD_NOT_NULLABLE_WITH_NAME, VALUE_OUT_OF_BOUNDS,
    FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME, ...), not an Arrow one."""
    import pandas as pd
    from pyspark.sql.types import _make_type_verifier

    if isinstance(row_schema, str):
        row_schema = StructType.fromDDL(row_schema)
    verify = _make_type_verifier(row_schema)
    for row in rows:
        verify(row)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=row_schema.fieldNames()), row_schema
    )


# the three canonical predicates (SENTIMENT_FEATURE_TYPE rows,
# insertAllConstantTypes.sql; alias normalization GlobalParameters.java:147-159)
PRED_REPUTATION = "expectedFutureReputationChange"
PRED_PRICE = "expectedFuturePriceChange"
PRED_VOLATILITY = "expectedFutureVolatilityChange"
CANONICAL_PREDS = (PRED_REPUTATION, PRED_PRICE, PRED_VOLATILITY)

FEATURE_ALIASES: list[tuple[str, str]] = [
    ("Reputation", PRED_REPUTATION),
    ("reputation", PRED_REPUTATION),
    ("Price", PRED_PRICE),
    ("price", PRED_PRICE),
    ("Volatility", PRED_VOLATILITY),
    ("volatility", PRED_VOLATILITY),
    (PRED_REPUTATION, PRED_REPUTATION),
    (PRED_PRICE, PRED_PRICE),
    (PRED_VOLATILITY, PRED_VOLATILITY),
]

# SHACL-lite domain axioms: which subject classes each canonical predicate
# may apply to. The reference ontology declares class structure in RDF/XML
# (FIRSTOntology.owl owl:Class hierarchy; loaded via WeblogTag.java:83-116)
# and the extractor implicitly scopes features to financial-instrument and
# organization subjects; these rules are an ORIGINAL synthetic dimension
# with that shape (no ontology content copied) for triple validation.
DOMAIN_RULES: dict[str, tuple[str, ...]] = {
    PRED_REPUTATION: ("Company",),
    PRED_PRICE: ("Company", "Stock", "Currency"),
    PRED_VOLATILITY: ("Company", "Stock", "Currency", "Topic"),
}

# classifier-type dimension values (SENTIMENT_CLASSIFIER_TYPE,
# insertAllConstantTypes.sql)
CLS_KNOWLEDGE_BASED = "Knowledge-Based/CRISP"
CLS_POSNEG_RATIO = "PosNegWordRatio/CRISP"
CLS_HYBRID_FUZZY = "Hybrid/FUZZY"

# fuzzy DoM bins ([0,.2) no … [.8,1] maximum; insertAllConstantTypes.sql)
DOM_BOUNDS: list[tuple[str, float | None, float | None, float | None]] = [
    ("no amount", 0.0, 0.2, 0.1),
    ("small amount", 0.2, 0.4, 0.3),
    ("moderate amount", 0.4, 0.6, 0.5),
    ("large amount", 0.6, 0.8, 0.7),
    ("maximum amount", 0.8, 1.0, 0.9),
]

_NS = "http://kgx.example.org/onto#"

# rdfs:subClassOf hierarchy (child, parent) — the reference ontology declares
# its class tree in RDF/XML (FIRSTOntology.owl owl:Class/rdfs:subClassOf
# chains, loaded via WeblogTag.java:83-116); this is an ORIGINAL synthetic
# hierarchy with the same shape (max depth 5) whose leaves are the gazetteer
# entity types. graph.transitive_closure expands it to the (descendant,
# ancestor, min_depth) subsumption dim a type-checker joins against.
CLASS_HIERARCHY: list[tuple[str, str]] = [
    ("SentimentObject", "Thing"),
    ("Organization", "SentimentObject"),
    ("FinancialInstrument", "SentimentObject"),
    ("Place", "SentimentObject"),
    ("Topic", "SentimentObject"),
    ("Company", "Organization"),
    ("PublicCompany", "Company"),
    ("PrivateCompany", "Company"),
    ("Equity", "FinancialInstrument"),
    ("Currency", "FinancialInstrument"),
    ("Stock", "Equity"),
    ("CommonStock", "Stock"),
    ("PreferredStock", "Stock"),
    ("ReserveCurrency", "Currency"),
    ("Region", "Place"),
    ("EconomicZone", "Region"),
    ("MacroTopic", "Topic"),
    ("SectorTopic", "Topic"),
]


def class_hierarchy_df(spark: SparkSession) -> DataFrame:
    """CLASS_HIERARCHY as a (src=child URI, dst=parent URI) edge DataFrame
    (dimension-sized: always broadcast, never shuffled)."""
    rows = [(_NS + c, _NS + p) for c, p in CLASS_HIERARCHY]
    return local_df(spark, rows, "src string, dst string")


# --- synthetic knowledge base (deterministic, original content) -------------

_COMPANIES = [
    ("Acme_Corp", ["Acme Corp", "Acme", "ACME Corporation"]),
    ("Globex", ["Globex", "Globex International"]),
    ("Initech", ["Initech", "initech systems"]),
    ("Umbrella_Group", ["Umbrella Group", "Umbrella"]),
    ("Stark_Industries", ["Stark Industries", "Stark"]),
    ("Wayne_Enterprises", ["Wayne Enterprises", "Wayne Ent"]),
    ("Tyrell_Corp", ["Tyrell Corp", "Tyrell"]),
    ("Wonka_Industries", ["Wonka Industries", "Wonka"]),
    ("Cyberdyne", ["Cyberdyne", "Cyberdyne Systems"]),
    ("Hooli", ["Hooli", "hooli inc"]),
]
_STOCKS = [
    ("ACME_Stock", ["ACME shares", "ACME stock"]),
    ("GBX_Stock", ["GBX", "Globex shares"]),
    ("HOO_Stock", ["HOO", "Hooli stock"]),
]
_CURRENCIES = [
    ("Euro", ["euro", "EUR"]),
    ("US_Dollar", ["dollar", "USD", "greenback"]),
    ("Yen", ["yen", "JPY"]),
]
_REGIONS = [
    ("Eurozone", ["eurozone", "euro area"]),
    ("Asia_Pacific", ["asia pacific", "APAC"]),
    ("North_America", ["north america"]),
]

POSITIVE_TERMS = [
    "gain", "gains", "profit", "profits", "growth", "surge", "rally",
    "strong", "bullish", "upbeat", "improve", "improved", "record",
    "beat", "boost", "soar", "soared", "optimistic", "upgrade", "win",
    "success", "robust", "recovery", "outperform", "exceed",
]
NEGATIVE_TERMS = [
    "loss", "losses", "decline", "drop", "plunge", "weak", "bearish",
    "downbeat", "worsen", "miss", "missed", "cut", "slump", "fall",
    "fell", "pessimistic", "downgrade", "fail", "failure", "fragile",
    "recession", "underperform", "warn", "warning", "crash",
]

# indicator → (object_class, feature, correlation); shape of
# IndicatorHasPositiveCorrelationTo… (FIRSTOntology.owl:4224-4233)
_INDICATORS = [
    ("Return_On_Equity", ["ROE", "return on equity"], "FundamentalMicro", 1, "Company", PRED_REPUTATION),
    ("Price_Earnings", ["P/E ratio", "price earnings"], "FundamentalMicro", 1, "Company", PRED_PRICE),
    ("Debt_Ratio", ["debt ratio", "leverage ratio"], "FundamentalMicro", -1, "Company", PRED_REPUTATION),
    ("Double_Bottom", ["double bottom"], "Technical", 1, "Stock", PRED_PRICE),
    ("Head_Shoulders", ["head and shoulders"], "Technical", -1, "Stock", PRED_PRICE),
    ("Inflation_Rate", ["inflation", "inflation rate"], "FundamentalMacro", -1, "Currency", PRED_PRICE),
    ("Interest_Rate", ["interest rate", "rate hike"], "FundamentalMacro", 1, "Currency", PRED_PRICE),
    ("Unemployment", ["unemployment", "jobless rate"], "FundamentalMacro", -1, "GeographicalRegion", PRED_REPUTATION),
    ("Volatility_Index", ["VIX", "volatility index"], "Technical", 1, "Stock", PRED_VOLATILITY),
]

# feature surfaces: how a predicate is mentioned in text
FEATURE_SURFACES = [
    ("reputation", PRED_REPUTATION),
    ("outlook", PRED_REPUTATION),
    ("price", PRED_PRICE),
    ("share price", PRED_PRICE),
    ("valuation", PRED_PRICE),
    ("volatility", PRED_VOLATILITY),
    ("stability", PRED_VOLATILITY),
]


@dataclass(frozen=True)
class KnowledgeBase:
    """Plain-Python view shared by the Spark pipeline (broadcast) and the
    pure-Python differential oracle (tests/oracle.py)."""

    gazetteer: list[tuple[str, str, str, str]]  # uri, name, type, surface
    lexicon: list[tuple[str, str]]  # term, polarity
    indicators: list[tuple[str, str, str, str, int, str, str]]
    feature_alias: list[tuple[str, str]]
    feature_surfaces: list[tuple[str, str]]

    def version(self) -> str:
        """Deterministic KB snapshot id: digest over every dimension row.
        The analogue of the ontology version the reference records per
        document version (DatabaseFacade.java:614-668) — stamped into each
        lineage row so any output row's provenance names the exact KB it
        was extracted with."""
        import hashlib

        payload = repr(
            (
                sorted(self.gazetteer),
                sorted(self.lexicon),
                sorted(self.indicators),
                sorted(self.feature_alias),
                sorted(self.feature_surfaces),
            )
        )
        return hashlib.md5(payload.encode()).hexdigest()[:16]

    def gazetteer_df(self, spark: SparkSession) -> DataFrame:
        return local_df(spark, self.gazetteer, schema.GAZETTEER)

    def lexicon_df(self, spark: SparkSession) -> DataFrame:
        return local_df(spark, self.lexicon, schema.ORIENTATION_LEXICON)

    def indicators_df(self, spark: SparkSession) -> DataFrame:
        return local_df(spark, self.indicators, schema.INDICATORS)

    def feature_alias_df(self, spark: SparkSession) -> DataFrame:
        return local_df(spark, self.feature_alias, schema.FEATURE_ALIAS)


def default_kb() -> KnowledgeBase:
    gaz: list[tuple[str, str, str, str]] = []

    def add(entities: list[tuple[str, list[str]]], etype: str) -> None:
        for key, surfaces in entities:
            uri = _NS + key
            name = surfaces[0]
            for s in surfaces:
                gaz.append((uri, name, etype, s))

    add(_COMPANIES, "Company")
    add(_STOCKS, "Stock")
    add(_CURRENCIES, "Currency")
    add(_REGIONS, "GeographicalRegion")
    # reference special case: any type containing "Stock" canonicalizes to
    # "Stock" (SentimentClassification.java:214-216) — exercised via a
    # subtyped entity:
    gaz.append((_NS + "PEN_Stock", "PEN preferred", "PreferredStockSecurity", "PEN preferred"))
    # duplicate (name, uri) rows with distinct surfaces → first-id-wins dedup
    # (DatabaseFacade.java:987-1018)
    gaz.append((_NS + "Acme_Corp", "Acme Corp", "Company", "acme corporation plc"))

    lex = [(t, "positive") for t in POSITIVE_TERMS] + [
        (t, "negative") for t in NEGATIVE_TERMS
    ]

    inds = [
        (_NS + key, surfaces[0], s, ind_type, corr, obj_cls, feat)
        for key, surfaces, ind_type, corr, obj_cls, feat in _INDICATORS
        for s in surfaces
    ]

    return KnowledgeBase(
        gazetteer=gaz,
        lexicon=lex,
        indicators=inds,
        feature_alias=list(FEATURE_ALIASES),
        feature_surfaces=list(FEATURE_SURFACES),
    )


def driver_kb() -> KnowledgeBase:
    """Knowledge base over the driver's `documents` vocabulary (31 distinct
    lowercase tokens) so the REAL pipeline runs oracle-checked against
    DuckDB SQL on /root/testdata parquet: entities/lexicon/features/
    indicators drawn from that vocabulary. Single-word surfaces make regex
    word-boundary matching ≡ SQL token equality."""
    gaz = [
        (_NS + "spark", "spark", "Company", "spark"),
        (_NS + "customer", "customer", "Company", "customer"),
        (_NS + "vector", "vector", "Topic", "vector"),
        (_NS + "stream", "stream", "Topic", "stream"),
        (_NS + "window", "window", "Topic", "window"),
    ]
    lex = [("fast", "positive"), ("big", "positive"), ("slow", "negative"), ("small", "negative")]
    inds = [
        (_NS + "hash_ind", "hash", "hash", "Technical", -1, "Company", PRED_PRICE),
        (_NS + "merge_ind", "merge", "merge", "Technical", 1, "Topic", PRED_VOLATILITY),
    ]
    return KnowledgeBase(
        gazetteer=gaz,
        lexicon=lex,
        indicators=inds,
        feature_alias=list(FEATURE_ALIASES),
        feature_surfaces=[("value", PRED_PRICE)],
    )


def dom_bounds_df(spark: SparkSession) -> DataFrame:
    from decimal import Decimal

    rows = [
        (label, Decimal(str(lo)), Decimal(str(hi)), Decimal(str(avg)))
        for label, lo, hi, avg in DOM_BOUNDS
    ]
    return local_df(spark, rows, schema.DOM_BOUNDS)


def dom_label(score: float | None) -> str:
    """Map |score| ∈ [0,1] to a degree-of-membership label
    (DatabaseFacade.java:1152-1177 bounds semantics: lower ≤ s < upper,
    top bin closed)."""
    if score is None:
        return "n/a"
    s = abs(score)
    for label, lo, hi, _avg in DOM_BOUNDS:
        if lo <= s < hi:
            return label
    if s >= 1.0:
        return DOM_BOUNDS[-1][0]
    return "n/a"


# --- KB snapshots on disk (S9 production path) ------------------------------
#
# The reference ships its knowledge as a versioned OWL file loaded at worker
# start (WeblogTag.java:83-116); the deployment analogue here is a directory
# of one small parquet (or TSV) file per dimension, written/read driver-side
# (the dims are a few thousand rows — they are always broadcast, never read
# distributed). `KnowledgeBase.version()` over the loaded rows reproduces the
# exact snapshot id stamped into lineage, so a run's provenance names the
# file-set it was extracted with.

_KB_COLUMNS: dict[str, list[str]] = {
    "gazetteer": ["entity_uri", "entity_name", "entity_type", "surface"],
    "lexicon": ["term", "polarity"],
    "indicators": [
        "indicator_uri", "name", "surface", "ind_type",
        "correlation", "object_class", "feature_uri",
    ],
    "feature_alias": ["alias", "canonical"],
    "feature_surfaces": ["surface", "feature_uri"],
}
_KB_INT_COLS = {"correlation"}


def save_knowledge(kb: KnowledgeBase, path: str, fmt: str = "parquet") -> str:
    """Write a KB snapshot as {path}/{dim}.{parquet|tsv}; returns kb.version()."""
    import os

    import pandas as pd

    os.makedirs(path, exist_ok=True)
    for dim, cols in _KB_COLUMNS.items():
        pdf = pd.DataFrame(getattr(kb, dim), columns=cols)
        if fmt == "parquet":
            pdf.to_parquet(os.path.join(path, f"{dim}.parquet"), index=False)
        elif fmt == "tsv":
            pdf.to_csv(os.path.join(path, f"{dim}.tsv"), sep="\t", index=False)
        else:
            raise ValueError(f"unknown KB format: {fmt!r}")
    return kb.version()


def load_kb_any(path: str) -> KnowledgeBase:
    """Dispatch on the knowledge-source shape: an OWL/RDF-XML ontology
    FILE goes through kgx.owl.load_owl (the reference's ingestion path,
    WeblogTag.java:83-116); anything else is treated as a snapshot DIR for
    load_knowledge."""
    import os

    if os.path.isfile(path) and path.lower().endswith((".owl", ".rdf", ".xml")):
        from kgx import owl

        return owl.load_owl(path)
    return load_knowledge(path)


def load_knowledge(path: str) -> KnowledgeBase:
    """Load a KB snapshot written by save_knowledge (or hand-authored TSVs
    with the same headers). Per dimension, {dim}.parquet wins over {dim}.tsv;
    a missing file is an error — a partial KB silently drops extraction rules."""
    import os

    import pandas as pd

    dims: dict[str, list[tuple]] = {}
    for dim, cols in _KB_COLUMNS.items():
        pq, tsv = (os.path.join(path, f"{dim}.{e}") for e in ("parquet", "tsv"))
        if os.path.exists(pq):
            pdf = pd.read_parquet(pq)
        elif os.path.exists(tsv):
            pdf = pd.read_csv(tsv, sep="\t")
        else:
            raise FileNotFoundError(f"KB snapshot at {path} is missing {dim}")
        missing = [c for c in cols if c not in pdf.columns]
        if missing:
            raise ValueError(f"KB {dim} at {path} lacks columns {missing}")
        pdf = pdf[cols]
        # native Python types: numpy scalars break KnowledgeBase.version()
        # repr-stability and (historically) createDataFrame
        dims[dim] = [
            tuple(
                int(v) if c in _KB_INT_COLS else str(v)
                for c, v in zip(cols, row)
            )
            for row in pdf.itertuples(index=False, name=None)
        ]
    return KnowledgeBase(**dims)
