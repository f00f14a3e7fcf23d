"""Schema learning / extraction / validation (E22).

Port of the reference's selector-schema subsystem
(``/root/reference/crates/riptide-extraction/src/schema/``):

* **learn_schema** (``generator.rs:25-92``): goal-templated selector sets
  ("article" / "product" / "listing" / generic) with per-rule priority and
  confidence, user-requested extra fields by name convention
  (``.field`` / ``[name='field']`` / ``#field`` — ``generator.rs:267-296``),
  confidence-threshold filtering (``generator.rs:319-336``), overall
  confidence = mean rule confidence (``generator.rs:339-361``), and the
  three suggestion rules (``generator.rs:364-393``).
* **extract_with_schema** (``extractor.rs:20-122``): per field, rules in
  priority order (desc), first selector whose first match has non-empty
  text wins; text = scraper's ``text().collect().join(" ")`` then trim
  (text nodes joined by single spaces); fallback selector at 0.8×
  confidence; field default when nothing matches.
* **test_extraction** (``extractor.rs:125-186``): missing-required check,
  validation rules (min_fields / required_fields), confidence =
  fields_extracted / total fields.
* **test_schema** (``validator.rs:19-84``): many-document harness with
  fail-fast, success rate, and summary stats.

The schema is a *config*, not an inference engine — selector sets are the
reference's own hand-tuned templates, and "learning" filters them by
confidence. At scale the learned schema is broadcast as a plain dict and
applied inside the extraction UDF (same shape as the CSS field configs in
``css_extract.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..html import dom


@dataclass
class SelectorRule:
    """types.rs SelectorRule (css-only; xpath/regex return None upstream)."""

    selector: str
    priority: int
    confidence: float
    selector_type: str = "css"
    fallback: str | None = None


@dataclass
class FieldSchema:
    field_type: str = "string"
    required: bool = False
    default: str | None = None
    description: str | None = None


@dataclass
class ExtractionSchema:
    name: str
    version: str
    goal: str
    fields: dict[str, FieldSchema] = field(default_factory=dict)
    selectors: dict[str, list[SelectorRule]] = field(default_factory=dict)
    validation: dict | None = None  # {"min_fields": int, "required_fields": [..]}

    def add_field(self, name: str, schema: FieldSchema) -> None:
        self.fields[name] = schema

    def add_selector(self, name: str, rule: SelectorRule) -> None:
        self.selectors.setdefault(name, []).append(rule)


@dataclass
class SchemaAnalysis:
    confidence: float = 0.0
    fields_detected: int = 0
    selectors_generated: int = 0
    patterns_found: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


@dataclass
class TestResult:
    url: str
    success: bool
    confidence: float
    fields_extracted: int
    missing_fields: list[str]
    errors: list[str]


# Goal templates — (selector, priority, confidence) per field, verbatim
# from generator.rs:101-263.
_ARTICLE_TEMPLATE: dict[str, tuple[FieldSchema, list[tuple[str, int, float]]]] = {
    "title": (
        FieldSchema(required=True, description="Article title"),
        [("h1", 10, 0.9), ("article h1", 9, 0.95), (".article-title", 8, 0.85),
         ("meta[property='og:title']", 7, 0.8)],
    ),
    "content": (
        FieldSchema(required=True, description="Article content"),
        [("article", 10, 0.9), (".article-content", 9, 0.85), ("main", 8, 0.8),
         (".content", 7, 0.75)],
    ),
    "author": (
        FieldSchema(description="Article author"),
        [(".author", 10, 0.9), ("[rel='author']", 9, 0.85),
         ("meta[name='author']", 8, 0.8)],
    ),
    "published_date": (
        FieldSchema(description="Publication date"),
        [("time[datetime]", 10, 0.95), (".publish-date", 9, 0.85),
         ("meta[property='article:published_time']", 8, 0.9)],
    ),
}

_PRODUCT_TEMPLATE = {
    "name": (
        FieldSchema(required=True, description="Product name"),
        [(".product-name", 10, 0.9), ("h1.product", 9, 0.85),
         ("[itemprop='name']", 8, 0.95)],
    ),
    "price": (
        FieldSchema(required=True, description="Product price"),
        [(".price", 10, 0.9), ("[itemprop='price']", 9, 0.95),
         (".product-price", 8, 0.85)],
    ),
    "description": (
        FieldSchema(description="Product description"),
        [(".product-description", 10, 0.9), ("[itemprop='description']", 9, 0.95),
         (".description", 8, 0.8)],
    ),
}

_LISTING_TEMPLATE = {
    "items": (
        FieldSchema(field_type="array", required=True, description="List items"),
        [(".listing-item", 10, 0.9), (".item", 9, 0.8), ("article", 8, 0.75)],
    ),
}

_GENERIC_TEMPLATE = {
    "title": (
        FieldSchema(required=True, description="Page title"),
        [("title", 10, 1.0), ("h1", 9, 0.9)],
    ),
}

_GOAL_TEMPLATES = {
    "article": (_ARTICLE_TEMPLATE, "article"),
    "product": (_PRODUCT_TEMPLATE, "product"),
    "listing": (_LISTING_TEMPLATE, "listing"),
}


def learn_schema(
    html: str,
    url: str,
    goal: str = "article",
    confidence_threshold: float = 0.7,
    fields: list[str] | None = None,
) -> tuple[ExtractionSchema, SchemaAnalysis, list[str]]:
    """generator.rs:25-92 — goal templates + requested fields, filtered."""
    schema = ExtractionSchema(name=f"{goal}-schema", version="1.0.0", goal=goal)
    analysis = SchemaAnalysis()

    template, pattern = _GOAL_TEMPLATES.get(goal, (_GENERIC_TEMPLATE, "generic"))
    for fname, (fschema, rules) in template.items():
        schema.add_field(fname, fschema)
        for selector, priority, confidence in rules:
            schema.add_selector(fname, SelectorRule(selector, priority, confidence))
    analysis.patterns_found.append(pattern)

    if fields:
        # generator.rs:267-296: name-convention selectors.
        for fname in fields:
            schema.add_field(fname, FieldSchema())
            for selector, priority, confidence in (
                (f".{fname}", 10, 0.8),
                (f"[name='{fname}']", 9, 0.75),
                (f"#{fname}", 8, 0.7),
            ):
                schema.add_selector(fname, SelectorRule(selector, priority, confidence))

    # generator.rs:319-336: drop sub-threshold rules, then empty fields.
    for fname in list(schema.selectors):
        schema.selectors[fname] = [
            r for r in schema.selectors[fname] if r.confidence >= confidence_threshold
        ]
        if not schema.selectors[fname]:
            del schema.selectors[fname]
            schema.fields.pop(fname, None)

    analysis.fields_detected = len(schema.fields)
    analysis.selectors_generated = sum(len(r) for r in schema.selectors.values())
    all_rules = [r for rules in schema.selectors.values() for r in rules]
    analysis.confidence = (
        sum(r.confidence for r in all_rules) / len(all_rules) if all_rules else 0.0
    )

    # generator.rs:364-393 suggestion rules, messages verbatim.
    suggestions: list[str] = []
    if analysis.confidence < 0.7:
        suggestions.append(
            "Consider lowering confidence threshold or testing with more "
            "representative URLs"
        )
    if len(schema.fields) < 3:
        suggestions.append(
            "Schema has few fields, consider adding more specific selectors"
        )
    for fname, rules in schema.selectors.items():
        if len(rules) == 1:
            suggestions.append(
                f"Field '{fname}' has only one selector, consider adding fallbacks"
            )
    return schema, analysis, suggestions


def _apply_selector(root: dom.Element, rule: SelectorRule) -> str | None:
    """extractor.rs:75-122 — css only; first match's text, None if empty.
    meta selectors read @content (the generator emits meta rules, and
    scraper's text() on a void meta element would be empty — content is the
    usable value)."""
    if rule.selector_type != "css":
        return None
    matches = dom.query_selector_all(root, rule.selector)
    if not matches:
        return None
    el = matches[0]
    if el.tag == "meta":
        text = (el.get("content") or "").strip()
    else:
        text = dom.joined_text(el)
    return text or None


def extract_with_schema(schema: ExtractionSchema, html: str, url: str) -> dict[str, str]:
    """extractor.rs:20-71 — priority-ordered rules, fallback at 0.8×
    confidence, field default when nothing matches."""
    root = dom.parse(html)
    extracted: dict[str, str] = {}
    for fname, rules in schema.selectors.items():
        value: str | None = None
        for rule in sorted(rules, key=lambda r: -r.priority):
            value = _apply_selector(root, rule)
            if value is None and rule.fallback:
                value = _apply_selector(
                    root,
                    SelectorRule(
                        rule.fallback, rule.priority, rule.confidence * 0.8,
                        rule.selector_type,
                    ),
                )
            if value is not None:
                break
        if value is not None:
            extracted[fname] = value
        else:
            fschema = schema.fields.get(fname)
            if fschema is not None and fschema.default is not None:
                extracted[fname] = fschema.default
    return extracted


def test_extraction(
    schema: ExtractionSchema,
    html: str,
    url: str,
    extracted: dict[str, str] | None = None,
) -> TestResult:
    """extractor.rs:125-186 — required/validation checks + field-coverage
    confidence. Pass a precomputed ``extracted`` dict to avoid re-parsing
    the document (callers that already ran extract_with_schema)."""
    if extracted is None:
        extracted = extract_with_schema(schema, html, url)
    fields_extracted = len(extracted)
    missing = [
        fname
        for fname, fschema in schema.fields.items()
        if fschema.required and fname not in extracted
    ]
    errors: list[str] = []
    valid = True
    if schema.validation:
        min_fields = schema.validation.get("min_fields")
        if min_fields is not None and fields_extracted < min_fields:
            errors.append(
                f"Expected at least {min_fields} fields, got {fields_extracted}"
            )
            valid = False
        for fname in schema.validation.get("required_fields", []) or []:
            if fname not in extracted:
                errors.append(f"Required field '{fname}' not found")
                valid = False
    success = valid and not missing
    total = len(schema.fields)
    confidence = fields_extracted / total if total else 0.0
    return TestResult(
        url=url,
        success=success,
        confidence=confidence,
        fields_extracted=fields_extracted,
        missing_fields=missing,
        errors=errors,
    )


def test_schema(
    schema: ExtractionSchema,
    documents: list[tuple[str, str]],
    fail_fast: bool = False,
) -> dict:
    """validator.rs:19-84 — run the schema over (url, html) pairs."""
    results: list[TestResult] = []
    passed = failed = 0
    for url, html in documents:
        try:
            result = test_extraction(schema, html, url)
        except Exception as exc:  # one bad doc must not kill the harness
            result = TestResult(url, False, 0.0, 0, [], [str(exc)])
        if result.success:
            passed += 1
        else:
            failed += 1
        results.append(result)
        if fail_fast and not result.success:
            break
    total = len(results)
    return {
        "total_tests": total,
        "passed": passed,
        "failed": failed,
        "success_rate": passed / total if total else 0.0,
        "avg_confidence": (
            sum(r.confidence for r in results) / total if total else 0.0
        ),
        "results": results,
    }


__all__ = [
    "SelectorRule",
    "FieldSchema",
    "ExtractionSchema",
    "SchemaAnalysis",
    "TestResult",
    "learn_schema",
    "extract_with_schema",
    "test_extraction",
    "test_schema",
]
