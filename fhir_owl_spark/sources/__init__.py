from . import owl_xml  # noqa: F401
