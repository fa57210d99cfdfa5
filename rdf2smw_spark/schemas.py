"""Shared schemas and RDF vocabulary constants.

Vocabulary mirrors the reference exactly:
- title properties (priority order): /root/reference/components/triplestowikipageconv.go:12-19
- property/category rdf:type values: triplestowikipageconv.go:25-33
- type/subClassOf predicates: triplestowikipageconv.go:35-38
- the 4 recognized literal datatypes: triplestowikipageconv.go:40-45
- page-type enum: triplestowikipageconv.go:47-53
- page-type → MediaWiki namespace: mwxmlcreator.go:45-50
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# --- vocabulary -------------------------------------------------------------

TITLE_PROPERTIES: list[str] = [
    "http://semantic-mediawiki.org/swivt/1.0#page",
    "http://www.w3.org/2000/01/rdf-schema#label",
    "http://purl.org/dc/elements/1.1/title",
    "http://purl.org/dc/terms/title",
    "http://www.w3.org/2004/02/skos/core#preferredLabel",
    "http://xmlns.com/foaf/0.1/name",
]

PROPERTY_TYPES: list[str] = [
    "http://www.w3.org/2002/07/owl#AnnotationProperty",
    "http://www.w3.org/2002/07/owl#DatatypeProperty",
    "http://www.w3.org/2002/07/owl#ObjectProperty",
]

CATEGORY_TYPES: list[str] = ["http://www.w3.org/2002/07/owl#Class"]

TYPE_PROPERTY_URI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUBCLASS_PROPERTY_URI = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

DT_STRING = "http://www.w3.org/2001/XMLSchema#string"
DT_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
DT_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
DT_FLOAT = "http://www.w3.org/2001/XMLSchema#float"
DT_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
DT_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"

# page-type enum (reference iota: triplestowikipageconv.go:47-53)
URI_TYPE_UNDEFINED = 1
URI_TYPE_PREDICATE = 2
URI_TYPE_CLASS = 3
URI_TYPE_TEMPLATE = 4

PAGE_TYPE_TO_NAMESPACE = {
    URI_TYPE_CLASS: 14,
    URI_TYPE_TEMPLATE: 10,
    URI_TYPE_PREDICATE: 102,
    URI_TYPE_UNDEFINED: 0,
}

# --- schemas ----------------------------------------------------------------

# The atomic record (SURVEY.md §1.1). Lexical forms carry no serialization
# syntax (no angle brackets / quotes), matching rdf.Term.String().
TRIPLE_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_is_iri", BooleanType(), False),
        StructField("obj_datatype", StringType(), True),  # null for IRIs
        StructField("src_url", StringType(), True),  # provenance
    ]
)

FACT_SCHEMA = StructType(
    [
        StructField("property", StringType(), False),
        StructField("value", StringType(), False),
    ]
)

# The output record (SURVEY.md §1.4; reference iptypes.go:31-37).
WIKI_PAGE_SCHEMA = StructType(
    [
        StructField("title", StringType(), False),
        StructField("page_type", IntegerType(), False),
        StructField("facts", ArrayType(FACT_SCHEMA), False),
        StructField("categories", ArrayType(StringType()), False),
        StructField("specific_category", StringType(), True),
    ]
)
