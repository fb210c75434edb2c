from .readers import Catalog, read_csv_permissive
from .xml_records import read_xml_records

__all__ = ["Catalog", "read_csv_permissive", "read_xml_records"]
