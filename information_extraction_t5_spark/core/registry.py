"""Question / predicate registry.

The extraction schema is registry-driven, mirroring the reference's nested
question dict (reference: information_extraction_t5/features/questions/
questions.py:23-94 and type_map.py:16-48) but normalized into a *flat row
form* so it can become a small broadcast DataFrame on the Spark side:

    (qa_id, project, field, subfields, questions, is_compound)

qa_id is the dotted predicate path ``project.field[.subfield]``; compound
fields carry an ordered subfield signature (immutable order, used to build
compound answers).  Type names <-> display types map both ways; the display
type is the bracketed clue in model output (``[Agência]: 2347``).
"""
from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional

# Bracketed complement marker used when the model also emits the raw surface
# form ("[aparece no texto] 88.975"); reference: type_map.py:11.
COMPLEMENT_TYPE = "aparece no texto"
COMPLEMENT_QUESTION_SUFFIX = " e como aparece no texto?"

# typename -> display type (bracket clue). Reference: type_map.py:16-48.
TYPENAME_TO_TYPE: Dict[str, str] = {
    COMPLEMENT_TYPE: COMPLEMENT_TYPE,
    "etiqueta": "Etiqueta",
    "agencia": "Agência",
    "conta_corrente": "Conta Corrente",
    "cpf": "CPF/CNPJ",
    "nome_completo": "Nome",
    "n_doc_serie": "No do Documento",
    "orgao_emissor": "Órgão Emissor",
    "data_emissao": "Data de Emissão",
    "data_nascimento": "Data de Nascimento",
    "nome_mae": "Nome da Mãe",
    "nome_pai": "Nome do Pai",
    "endereco": "Endereço",
    "logradouro": "Logradouro",
    "numero": "Número",
    "complemento": "Complemento",
    "bairro": "Bairro",
    "cidade": "Cidade",
    "estado": "Estado",
    "cep": "CEP",
}

TYPE_TO_TYPENAME: Dict[str, str] = {v: k for k, v in TYPENAME_TO_TYPE.items()}


@dataclass(frozen=True)
class Predicate:
    """One extractable field: a row of the registry table."""

    qa_id: str                 # dotted path: project.field
    questions: List[str]       # at least one natural-language question
    subfields: List[str] = dc_field(default_factory=list)  # compound signature

    @property
    def is_compound(self) -> bool:
        return len(self.subfields) > 0

    @property
    def project(self) -> str:
        return self.qa_id.split(".", 1)[0]

    @property
    def field(self) -> str:
        return self.qa_id.split(".", 1)[1]


# Default registry mirroring the reference "form" project
# (reference: questions.py:23-94). Order of subfields is a signature.
DEFAULT_PREDICATES: List[Predicate] = [
    Predicate("form.etiqueta", ["Qual é o número da etiqueta?"]),
    Predicate("form.agencia", ["Qual é o número da agência?"]),
    Predicate("form.conta_corrente", ["Qual é o número da conta corrente?"]),
    Predicate("form.cpf", ["Qual é o CPF/CNPJ?", "Qual é o CPF do titular?"]),
    Predicate("form.nome_completo", ["Qual é o nome?", "Qual é o nome completo?"]),
    Predicate("form.n_doc_serie", ["Qual é o número do documento ou número da série?"]),
    Predicate("form.orgao_emissor", ["Qual é o órgão emissor?"]),
    Predicate("form.data_emissao", ["Qual é a data de emissão?"]),
    Predicate("form.data_nascimento", ["Qual é a data de nascimento?"]),
    Predicate("form.nome_mae", ["Qual é o nome da mãe?"]),
    Predicate("form.nome_pai", ["Qual é o nome do pai?"]),
    Predicate(
        "form.endereco",
        ["Qual o endereço?"],
        subfields=["logradouro", "numero", "complemento", "bairro",
                   "cidade", "estado", "cep"],
    ),
]


def all_qa_ids(predicates: Optional[List[Predicate]] = None,
               project: Optional[str] = None) -> List[str]:
    """Enumerate the qa_id universe (reference: preprocess.py:175-235).

    Compound predicates contribute a single qa_id (the compound question is
    asked once and its answer carries all subfields).
    """
    preds = DEFAULT_PREDICATES if predicates is None else predicates
    out = []
    for p in preds:
        if project is not None and p.project != project:
            continue
        out.append(p.qa_id)
    return out


def display_type(typename: str) -> str:
    return TYPENAME_TO_TYPE[typename]


def registry_rows(predicates: Optional[List[Predicate]] = None) -> List[dict]:
    """Flat rows for the broadcast registry DataFrame."""
    preds = DEFAULT_PREDICATES if predicates is None else predicates
    return [
        {
            "qa_id": p.qa_id,
            "project": p.project,
            "field": p.field,
            "question": p.questions[0],
            "questions": list(p.questions),
            "subfields": list(p.subfields),
            "is_compound": p.is_compound,
        }
        for p in preds
    ]


def count_keys_values(obj) -> "tuple[int, int]":
    """(keys, values) of a nested dict/list config — driver-side registry
    introspection (reference: utils/processing.py:63-86 ``count_k_v``;
    parity pinned by the differential fuzz harness).  A dict key counts as
    a key; a leaf (non-container) counts as a value; containers recurse."""
    keys, values = 0, 0
    if isinstance(obj, dict):
        for item in obj:
            keys += 1
            if isinstance(obj[item], (list, tuple, dict)):
                k, v = count_keys_values(obj[item])
                keys += k
                values += v
            else:
                values += 1
    elif isinstance(obj, (list, tuple)):
        for item in obj:
            if isinstance(item, (list, tuple, dict)):
                k, v = count_keys_values(item)
                keys += k
                values += v
            else:
                values += 1
    return keys, values


def na_answer(predicate: Predicate) -> str:
    """The forced not-applicable answer string for a predicate
    (reference: basic_to_squad.py:162-177)."""
    if predicate.is_compound:
        return " ".join(
            f"[{TYPENAME_TO_TYPE[sf]}]: N/A" for sf in predicate.subfields
        )
    return f"[{TYPENAME_TO_TYPE[predicate.field]}]: N/A"
